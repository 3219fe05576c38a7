"""Scalar kernels + nonlinear battery: acf parity, butterworth
response, pca, scalar column functions."""
import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from apollon_spark.functions import kernels, scalars
from apollon_spark.nonlinear import bandpass_docs, extract_nonlinear


def test_acf_matches_reference_loop():
    rng = np.random.default_rng(0)
    sig = rng.normal(size=256)
    got = kernels.acf(sig)
    # reference loop (signal/tools.py:32-54)
    norm = sig @ sig
    want = np.empty(sig.size)
    want[0] = 1
    for lag in range(1, sig.size):
        prod = sig[:-lag] @ sig[lag:]
        want[lag] = prod / norm if prod != 0 else 0
    np.testing.assert_allclose(got, want, atol=1e-10)


def test_corr_coef_pearson_quirk_preserved():
    rng = np.random.default_rng(1)
    x, y = rng.normal(size=64), rng.normal(size=64)
    got = kernels.corr_coef_pearson(x, y)
    xd, yd = x - x.mean(), y - y.mean()
    want = (xd @ yd) / ((xd @ xd) * (yd @ yd))   # no sqrt: ref quirk
    np.testing.assert_allclose(got, want, rtol=1e-12)


def test_butterworth_bandpass_response():
    fps = 8000
    b, a = kernels.butter_bandpass_coef(400, 1200, fps, order=4)
    t = np.arange(4096) / fps
    inband = np.sin(2 * np.pi * 800 * t)
    outband = np.sin(2 * np.pi * 100 * t) + np.sin(2 * np.pi * 3000 * t)
    y_in = kernels.lfilter(b, a, inband)
    y_out = kernels.lfilter(b, a, outband)
    # steady-state gains (skip transient)
    g_in = np.abs(y_in[1000:]).max()
    g_out = np.abs(y_out[1000:]).max()
    assert g_in > 0.9
    assert g_out < 0.15


def test_pca_reconstruction():
    rng = np.random.default_rng(2)
    base = rng.normal(size=(200, 2)) @ rng.normal(size=(2, 5))
    vals, vects, proj = kernels.pca(base, 2)
    assert vals[0] >= vals[1]
    recon = proj @ vects + base.mean(axis=0)
    np.testing.assert_allclose(recon, base, atol=1e-8)


def test_lorenz_and_log_edges():
    traj = kernels.lorenz_attractor(500)
    assert traj.shape == (500, 3)
    assert np.isfinite(traj).all()
    d = np.abs(np.diff(traj[:, 0]))
    edges = kernels.log_histogram_bin_edges(d, 10)
    assert len(edges) == 11
    assert np.all(np.diff(edges) > 0)


def test_scalar_columns(spark):
    pdf = pd.DataFrame({"f": [440.0, 1000.0], "x": [[1.0, -3.0, 2.0]] * 2})
    df = spark.createDataFrame(pdf)
    out = df.select(
        scalars.freq2mel(F.col("f")).alias("mel"),
        scalars.frq2cbr(F.col("f")).alias("bark"),
        scalars.c_weighting(F.col("f")).alias("cw"),
        scalars.maxamp(F.col("x")).alias("mx"),
        scalars.l1_norm(F.col("x")).alias("l1"),
        scalars.rms_arr(F.col("x")).alias("rms"),
        scalars.normalize_arr(F.col("x")).alias("norm"),
        scalars.zero_pad_arr(F.col("x"), 2).alias("padded"),
        scalars.minamp(F.col("x")).alias("mn"),
        scalars.limit_db(F.col("f"), 57.0).alias("limited"),
        scalars.spl_from_rms(F.col("f")).alias("spl"),
    ).toPandas()
    x = np.array(pdf["x"][0])
    np.testing.assert_array_equal(list(out["padded"][0]), np.pad(x, (0, 2)))
    assert out["mn"][0] == np.abs(x).min()
    bound = 10.0 ** (0.05 * 57.0)
    np.testing.assert_allclose(out["limited"], np.clip(pdf["f"], -bound, bound),
                               rtol=1e-12)
    assert out["limited"][1] < pdf["f"][1]
    np.testing.assert_allclose(out["spl"], 20 * np.log10(pdf["f"] / 2e-5),
                               rtol=1e-12)
    np.testing.assert_allclose(
        out["mel"][0], 1125 * np.log(1 + 440 / 700), rtol=1e-9)
    np.testing.assert_allclose(
        out["bark"][0], kernels.frq2cbr(np.array([440.0]))[0], rtol=1e-9)
    np.testing.assert_allclose(
        out["cw"][0], kernels.c_weighting(np.array([440.0]))[0], rtol=1e-9)
    assert out["mx"][0] == 3.0 and out["l1"][0] == 6.0
    np.testing.assert_allclose(out["rms"][0], np.sqrt(14 / 3), rtol=1e-9)
    np.testing.assert_allclose(list(out["norm"][0]), [1 / 3, -1.0, 2 / 3])
    # mel roundtrip
    rt = df.select(scalars.mel2freq(scalars.freq2mel(F.col("f"))).alias("f2")) \
        .toPandas()
    np.testing.assert_allclose(rt["f2"], pdf["f"], rtol=1e-9)


def test_nonlinear_battery_spark(spark):
    from apollon_spark.datagen import synth_docs
    docs = synth_docs(spark, 3, whales=False).toPandas()
    docs["n_tok"] = docs["n_tok"].astype("int32")
    sdf = spark.createDataFrame(docs)
    out = extract_nonlinear(sdf, max_samples=4096).toPandas() \
        .merge(docs[["doc_id", "n_tok"]], on="doc_id")
    assert len(out) == 3
    # cdim defined exactly where the Bader kernel's fixed traversal fits
    # (2389 + 79*14 + 1 samples, cdim.c:177,203-219)
    need = 2390 + 79 * 14
    long_enough = out["n_tok"] >= need
    assert np.isfinite(out.loc[long_enough, "cdim"]).all()
    assert out.loc[~long_enough, "cdim"].isna().all()
    assert np.isfinite(out["correlogram"]).all()
    assert (out["acf_lag1"] <= 1.0 + 1e-9).all()


def test_cdim_bader_behavioral():
    """Kernel quirks: chaotic low-dim signal -> positive slope;
    concentrated-distance noise -> 0 (argmax lands in bin 0 because the
    C kernel only scans the first 3/5 bins); too-short input raises."""
    traj = kernels.lorenz_attractor(4000)
    x = traj[:, 0] / np.abs(traj[:, 0]).max()
    assert kernels.cdim(x[None, :], 14, 80)[0] > 0.5
    rng = np.random.default_rng(0)
    p = rng.poisson(50, 4000).astype("float64")
    assert kernels.cdim((p / p.max())[None, :], 14, 80)[0] == 0.0
    import pytest as _pt
    with _pt.raises(ValueError):
        kernels.cdim_bader(np.zeros(3000), 14, 80)


def test_bandpass_docs_spark(spark):
    import pandas as pd
    fps = 8000
    t = np.arange(4096) / fps
    sig = (np.sin(2 * np.pi * 800 * t) * 100 + 500).astype("int32")
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": ["a"], "tokens": [sig.tolist()],
        "n_tok": [len(sig)], "source": ["s"]}))
    out = bandpass_docs(docs, fps, 400, 1200).toPandas()
    filt = np.asarray(out["filtered"][0])
    # DC offset (0 Hz) removed, 800 Hz carrier passes
    assert abs(filt[2000:].mean()) < 2.0
    assert np.abs(filt[2000:]).max() > 80.0


def test_mono_mixdown_elementwise_mean(spark):
    """mono_mixdown averages N channel arrays elementwise, JVM-side,
    and its output feeds the scalar battery (energy) unchanged."""
    import pandas as pd
    pdf = pd.DataFrame({
        "doc_id": ["a", "b"],
        "ch0": [[1, 3, 5], [0, 0, 0]],
        "ch1": [[3, 5, 7], [2, 4, 6]],
    })
    df = spark.createDataFrame(pdf)
    out = df.select(
        "doc_id",
        scalars.mono_mixdown(F.col("ch0"), F.col("ch1")).alias("mono"))
    got = {r.doc_id: list(r.mono) for r in out.collect()}
    assert got == {"a": [2.0, 4.0, 6.0], "b": [1.0, 2.0, 3.0]}
    # scalar column downstream: per-doc energy over the mixdown
    energy = out.select(
        "doc_id",
        F.aggregate("mono", F.lit(0.0), lambda a, x: a + x * x)
        .alias("energy")).collect()
    assert {r.doc_id: r.energy for r in energy} == \
        {"a": 4.0 + 16.0 + 36.0, "b": 1.0 + 4.0 + 9.0}
    # single channel: identity (cast to double)
    one = df.select(scalars.mono_mixdown(F.col("ch0")).alias("m")).collect()
    assert list(one[0].m) == [1.0, 3.0, 5.0]


def test_mono_mixdown_unequal_lengths_null(spark):
    """Unequal channel lengths -> whole-row NULL (explicit malformed-
    input signal), never a silent trailing-null tail."""
    import pandas as pd
    pdf = pd.DataFrame({"ch0": [[1, 2, 3]], "ch1": [[1, 2]]})
    out = spark.createDataFrame(pdf).select(
        scalars.mono_mixdown(F.col("ch0"), F.col("ch1")).alias("m"))
    assert out.collect()[0].m is None
