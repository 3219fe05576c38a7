"""Feature-battery parity vs the reference-shaped oracle
(north star: numpy.allclose per entity x timestamp)."""
import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from apollon_spark.datagen import synth_docs, synth_docs_sine
from apollon_spark.functions import kernels
from apollon_spark.spectral import FeatureConfig, extract_features
from apollon_spark.operators.framing import FramingParams
from tests.oracle import reference_math as ref

RTOL, ATOL = 1e-7, 1e-9

PARITY_COLS = ["energy", "rms", "spl", "centroid", "spread", "flux",
               "fspl", "loudness", "sharpness"]


def _sig(n, seed=0, lo=0, hi=200):
    rng = np.random.default_rng(seed)
    return rng.integers(lo, hi, n).astype("float64")


# ---------- kernel-level parity (no Spark) ----------

@pytest.mark.parametrize("window", [None, "hamming", "hann", "blackman"])
def test_rfft_mag_matches_oracle(window):
    sig = _sig(4096, seed=1)
    segs = kernels.frame_signal(sig, 512, 256)
    got = kernels.rfft_mag(segs, window)
    want = np.abs(ref.fft(segs.T, window))
    np.testing.assert_allclose(got, want.T, rtol=RTOL, atol=ATOL)


def test_battery_kernels_match_oracle():
    sig = _sig(9000, seed=2)
    o = ref.doc_features(sig)
    segs = kernels.frame_signal(sig, 512, 256)
    mag = kernels.rfft_mag(segs, "hamming")
    frqs = kernels.rfftfreq(512, 9000)
    np.testing.assert_allclose(kernels.energy(segs), o["energy"], rtol=RTOL)
    np.testing.assert_allclose(kernels.rms(segs), o["rms"], rtol=RTOL)
    np.testing.assert_allclose(kernels.spl(segs), o["spl"], rtol=RTOL)
    np.testing.assert_allclose(
        kernels.spectral_centroid(frqs, mag), o["centroid"], rtol=RTOL)
    np.testing.assert_allclose(
        kernels.spectral_spread(frqs, mag), o["spread"], rtol=RTOL)
    np.testing.assert_allclose(
        kernels.spectral_flux(mag), o["flux"], rtol=RTOL, atol=ATOL)
    np.testing.assert_allclose(kernels.fspl(mag), o["fspl"], rtol=RTOL)
    # fsplc: C-weighted magnitudes (IEC 61672), then total spectral SPL
    f2 = np.square(frqs)
    cw = 148693636.0 * f2 / ((f2 + 424.36) * (f2 + 148693636.0))
    want = 10 * np.log10(np.maximum(
        1.0, np.square(cw * mag / 2e-5).sum(axis=1)))
    np.testing.assert_allclose(kernels.fsplc(frqs, mag), want, rtol=RTOL)
    np.testing.assert_allclose(
        kernels.loudness(frqs, mag), o["loudness"], rtol=RTOL)
    np.testing.assert_allclose(
        kernels.sharpness(frqs, mag), o["sharpness"].squeeze(), rtol=RTOL)


@given(st.integers(0, 10_000))
@settings(max_examples=20, deadline=None)
def test_energy_nonnegative_property(seed):
    """Reference invariant (tests/signal/test_features.py:40-44)."""
    sig = _sig(600, seed=seed)
    segs = kernels.frame_signal(sig, 64, 32)
    assert (kernels.energy(segs) >= 0).all()
    assert (kernels.rms(segs) >= 0).all()
    mag = kernels.rfft_mag(segs, "hamming")
    assert (mag >= 0).all()


def test_centroid_of_sinusoid_near_frequency():
    """Analytic oracle (tests/signal/test_features.py:61-69): spectral
    centroid of a pure (zero-mean) sinusoid ~ its frequency."""
    fps, frq = 9000, 440.0
    t = np.arange(9000) / fps
    sig = np.sin(2 * np.pi * frq * t)
    segs = kernels.frame_signal(sig, 1024, 512)
    mag = kernels.rfft_mag(segs, "hamming")
    frqs = kernels.rfftfreq(1024, fps)
    cen = kernels.spectral_centroid(frqs, mag)
    inner = cen[2:-2]  # edge segments see zero padding
    # hamming sidelobe leakage pulls the expectation by a few bins
    # (d_frq = 8.79 Hz here); stay within ~4 bins
    assert np.all(np.abs(inner - frq) < 40.0)


def test_entropy_and_embedding_match_oracle():
    sig = _sig(1024, seed=5)
    got_emb = kernels.delay_embedding(sig, 10, 3)
    want_emb = ref.delay_embedding(sig, 10, 3)
    np.testing.assert_array_equal(np.asarray(got_emb), want_emb)
    got = kernels.embedding_entropy(got_emb, 10)
    want = ref.embedding_entropy(want_emb, 10)
    assert abs(got - want) < 1e-12


def test_correlogram_matches_oracle():
    sig = _sig(400, seed=7)
    got = kernels.correlogram(sig, 50, 10, total=False)
    want = ref.correlogram(sig, 50, 10, total=False)
    np.testing.assert_allclose(got, want, rtol=1e-9, atol=1e-12)
    got_t = kernels.correlogram(sig, 50, 10, total=True)
    np.testing.assert_allclose(got_t, [want.mean()], rtol=1e-9)


def test_hilbert_magnitude_analytic():
    """|hilbert(cos)| == 1 for a pure tone (interior samples)."""
    t = np.arange(2048) / 2048
    sig = np.cos(2 * np.pi * 64 * t)
    mag = kernels.hilbert_magnitude(sig[None, :])[0]
    np.testing.assert_allclose(mag[100:-100], 1.0, atol=1e-6)


def test_c_weighting_and_mel_monotonic():
    frqs = np.linspace(10, 4000, 100)
    w = kernels.c_weighting(frqs)
    assert (w > 0).all() and (w <= 1.0 + 1e-9).all()
    assert w[50] > w[0]  # rises from low frequencies


# ---------- Spark end-to-end parity ----------

def _parity_check(spark, docs, cfg, split, **kwargs):
    feats = (
        extract_features(docs, cfg, split=split, **kwargs)
        .toPandas().sort_values(["doc_id", "seg_idx"])
    )
    src = {r["doc_id"]: np.asarray(r["tokens"], "float64")
           for r in docs.collect()}
    assert feats["doc_id"].nunique() == len(src)
    for doc_id, grp in feats.groupby("doc_id"):
        o = ref.doc_features(
            src[doc_id], cfg.framing.n_perseg, cfg.framing.n_overlap,
            cfg.framing.extend, cfg.framing.pad, cfg.window, cfg.fps)
        grp = grp.sort_values("seg_idx")
        assert len(grp) == o["center"].size
        np.testing.assert_array_equal(grp["center"].to_numpy(), o["center"])
        for col in PARITY_COLS:
            np.testing.assert_allclose(
                grp[col].to_numpy(), np.asarray(o[col]).squeeze(),
                rtol=RTOL, atol=ATOL, err_msg=f"{doc_id}:{col}")


def test_extract_features_parity(spark):
    docs = synth_docs(spark, 4, whales=False)
    _parity_check(spark, docs, FeatureConfig(), split=False)


def test_extract_features_split_parity(spark):
    """Halo-split path must equal the reference exactly too, including
    flux at chunk borders and the whole-doc sharpness denominator."""
    docs = synth_docs(spark, 3, whales=False)
    _parity_check(spark, docs, FeatureConfig(), split=True, chunk_segs=7)


def test_split_equals_unsplit(spark):
    docs = synth_docs(spark, 3, whales=False)
    cfg = FeatureConfig(framing=FramingParams(128, 64))
    a = extract_features(docs, cfg, split=False).toPandas() \
        .sort_values(["doc_id", "seg_idx"]).reset_index(drop=True)
    b = extract_features(docs, cfg, split=True, chunk_segs=11).toPandas() \
        .sort_values(["doc_id", "seg_idx"]).reset_index(drop=True)
    assert len(a) == len(b)
    for col in PARITY_COLS:
        np.testing.assert_allclose(a[col], b[col], rtol=1e-12, atol=1e-12)


def test_sine_docs_centroid(spark):
    """F2 analytic oracle through the whole Spark pipeline."""
    docs = synth_docs_sine(spark, 5)
    cfg = FeatureConfig(framing=FramingParams(1024, 512))
    feats = extract_features(docs, cfg).toPandas()
    src = {r["doc_id"]: r["source"] for r in docs.select("doc_id", "source").collect()}
    for doc_id, grp in feats.groupby("doc_id"):
        frq = float(src[doc_id][1:])
        inner = grp.sort_values("seg_idx")["centroid"].to_numpy()[2:-2]
        # tokens ride on a 512 DC offset -> centroid pulled toward 0 bin;
        # but the component peak dominates after windowing: loose bound
        assert inner.mean() < frq + 50.0


def test_causal_mode_no_leakage(spark):
    """Leakage gate: causal features at (doc, t) computed on the full
    doc equal those computed on the prefix positions <= t."""
    docs = synth_docs(spark, 2, whales=False)
    cfg = FeatureConfig(framing=FramingParams(64, 32), causal=True)
    feats = extract_features(docs, cfg).toPandas()
    src = {r["doc_id"]: np.asarray(r["tokens"], "float64")
           for r in docs.collect()}
    for doc_id, grp in feats.groupby("doc_id"):
        sig = src[doc_id]
        grp = grp.sort_values("seg_idx")
        for _, row in grp.iloc[[3, 10, len(grp) // 2]].iterrows():
            c = int(row["center"])
            prefix = np.pad(sig[:c + 1], (63, 0))[-64:]
            mag = kernels.rfft_mag(prefix[None, :], "hamming")
            frqs = kernels.rfftfreq(64, cfg.fps)
            np.testing.assert_allclose(
                row["centroid"],
                kernels.spectral_centroid(frqs, mag)[0], rtol=1e-9)
            np.testing.assert_allclose(
                row["energy"], kernels.energy(prefix[None, :])[0], rtol=1e-9)


def test_causal_split_equals_unsplit(spark):
    """Causal mode through the halo-split path matches the fast path
    exactly (closes the former NotImplementedError)."""
    from apollon_spark.datagen import synth_docs
    from apollon_spark.operators.framing import FramingParams
    from apollon_spark.spectral import FeatureConfig, extract_features
    docs = synth_docs(spark, 12, whales=False)
    cfg = FeatureConfig(framing=FramingParams(64, 32), causal=True)
    a = extract_features(docs, cfg, split=False).toPandas() \
        .sort_values(["doc_id", "seg_idx"]).reset_index(drop=True)
    b = extract_features(docs, cfg, split=True, chunk_segs=5).toPandas() \
        .sort_values(["doc_id", "seg_idx"]).reset_index(drop=True)
    assert len(a) == len(b) and len(a) > 0
    np.testing.assert_array_equal(a["seg_idx"], b["seg_idx"])
    np.testing.assert_array_equal(a["center"], b["center"])
    for col in ["energy", "rms", "centroid", "spread", "flux", "fspl",
                "loudness", "sharpness"]:
        np.testing.assert_allclose(a[col], b[col], rtol=1e-12, atol=1e-12,
                                   err_msg=col)


def test_feature_subset(spark):
    """features=(...) restricts columns and values match the full
    battery; the subset plan still has zero exchanges."""
    from apollon_spark.datagen import synth_docs
    from apollon_spark.operators.framing import FramingParams
    from apollon_spark.spectral import FeatureConfig, extract_features
    docs = synth_docs(spark, 6, whales=False)
    p = FramingParams(64, 32)
    full = extract_features(docs, FeatureConfig(framing=p)).toPandas() \
        .sort_values(["doc_id", "seg_idx"]).reset_index(drop=True)
    sub = extract_features(
        docs, FeatureConfig(framing=p, features=("energy", "flux",
                                                 "sharpness"))).toPandas() \
        .sort_values(["doc_id", "seg_idx"]).reset_index(drop=True)
    assert list(sub.columns) == ["doc_id", "seg_idx", "center", "ts",
                                 "energy", "flux", "sharpness", "entropy"]
    for col in ["energy", "flux", "sharpness"]:
        np.testing.assert_allclose(sub[col], full[col], rtol=0, atol=0)
    # split path honors the subset too
    subs = extract_features(
        docs, FeatureConfig(framing=p, features=("energy", "flux",
                                                 "sharpness")),
        split=True, chunk_segs=4).toPandas() \
        .sort_values(["doc_id", "seg_idx"]).reset_index(drop=True)
    for col in ["energy", "flux", "sharpness"]:
        np.testing.assert_allclose(subs[col], full[col],
                                   rtol=1e-12, atol=1e-12)
