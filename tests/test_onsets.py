"""Onsets: peak-picker parity, burst recall, by_onsets gather clipping."""
import numpy as np
import pandas as pd

from apollon_spark.datagen import synth_docs_bursts
from apollon_spark.onsets import (by_onsets_gather, detect_onsets,
                                  flux_odf, log_attack_time, pick_peaks,
                                  pick_peaks_series)
from apollon_spark.operators.framing import FramingParams
from apollon_spark.spectral import FeatureConfig


def _reference_picker(inp, n_after=10, n_before=10, alpha=0.1, delta=0.1):
    """Literal restatement of FilterPeakPicker.detect (onsets.py:227-262)."""
    g = [0]
    out = []
    for n, val in enumerate(inp):
        idx = np.arange(n - n_before, n + n_after + 1, 1)
        window = np.take(inp, idx, mode="clip")
        cond1 = np.all(val >= window)
        cond2 = val >= (np.mean(window) + delta)
        foo = max(val, alpha * g[n] + (1 - alpha) * val)
        g.append(foo)
        cond3 = val >= foo
        if cond1 and cond2 and cond3:
            out.append(n)
    return np.array(out)


def test_peak_picker_parity():
    rng = np.random.default_rng(4)
    for seed in range(5):
        vals = rng.random(200) * np.where(rng.random(200) < 0.05, 10, 1)
        got = pick_peaks_series(vals)
        want = _reference_picker(vals)
        np.testing.assert_array_equal(got, want)


def test_flux_onsets_recall_on_bursts(spark):
    docs = synth_docs_bursts(spark, 6, n_tok=8192, n_bursts=3,
                             burst_len=768)
    cfg = FeatureConfig(framing=FramingParams(256, 128))
    ons = detect_onsets(docs, cfg, n_before=3, n_after=3, delta=0.1) \
        .toPandas()
    truth = {r["doc_id"]: [int(s) for s in r["source"].split(",")]
             for r in docs.select("doc_id", "source").collect()}
    hits = 0
    total = 0
    for doc_id, starts in truth.items():
        got = ons[ons["doc_id"] == doc_id]["frame"].to_numpy()
        for s in starts:
            total += 1
            if len(got) and np.min(np.abs(got - s)) <= 512:
                hits += 1
    assert hits / total >= 0.7


def test_fused_equals_composed(spark):
    """detect_onsets (one fused stage) == the composed reference
    pick_peaks(flux_odf(...))."""
    docs = synth_docs_bursts(spark, 5, n_tok=4096, n_bursts=3,
                             burst_len=512)
    cfg = FeatureConfig(framing=FramingParams(128, 64))
    kw = dict(n_before=3, n_after=3, delta=0.05)
    fused = detect_onsets(docs, cfg, **kw).toPandas() \
        .sort_values(["doc_id", "frame"]).reset_index(drop=True)
    comp = pick_peaks(flux_odf(docs, cfg), **kw) \
        .select("doc_id", "frame", "time").toPandas() \
        .sort_values(["doc_id", "frame"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(fused, comp)


def test_by_onsets_gather_clipping(spark):
    pdf = pd.DataFrame({
        "doc_id": ["a"], "tokens": [list(range(100))],
        "n_tok": [100], "source": ["s"]})
    docs = spark.createDataFrame(pdf)
    ons = spark.createDataFrame(
        pd.DataFrame({"doc_id": ["a"] * 3, "frame": [-5, 50, 95]}))
    out = by_onsets_gather(docs, ons, n_perseg=10).toPandas() \
        .sort_values("frame").reset_index(drop=True)
    # frame -5 clips to 0 (segment.py:461-465)
    assert list(out.loc[0, "window"]) == list(range(10))
    assert list(out.loc[1, "window"]) == list(range(50, 60))
    # frame 95: tail zero-padded (segment.py:468-471)
    assert list(out.loc[2, "window"]) == list(range(95, 100)) + [0] * 5


def test_log_attack_time_runs(spark):
    docs = synth_docs_bursts(spark, 2, n_tok=4096, n_bursts=2)
    ons = spark.createDataFrame(pd.DataFrame({
        "doc_id": [r["doc_id"] for r in docs.select("doc_id").collect()
                   for _ in range(2)],
        "frame": [100, 2000, 150, 2100]}))
    out = log_attack_time(docs, ons, fps=9000, wlen=0.05).toPandas()
    assert len(out) == 4
    assert np.isfinite(out["log_attack_time"]).all()


def test_fused_equals_composed_causal(spark):
    """The fused fast path must honor causal framing (regression: it
    silently framed non-causally)."""
    docs = synth_docs_bursts(spark, 3, n_tok=4096, n_bursts=3,
                             burst_len=512)
    cfg = FeatureConfig(framing=FramingParams(128, 64), causal=True)
    kw = dict(n_before=3, n_after=3, delta=0.05)
    fused = detect_onsets(docs, cfg, **kw).toPandas() \
        .sort_values(["doc_id", "frame"]).reset_index(drop=True)
    comp = pick_peaks(flux_odf(docs, cfg), **kw) \
        .select("doc_id", "frame", "time").toPandas() \
        .sort_values(["doc_id", "frame"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(fused, comp)


def test_peak_flags_consistent_with_picker(spark):
    """Flag-level scan (the peak_scan gate surface) agrees with
    pick_peaks_series index-for-index per doc."""
    from apollon_spark.onsets import peak_flags
    rng = np.random.default_rng(9)
    rows = []
    series = {}
    for d in range(6):
        n = int(rng.integers(5, 40))
        vals = (rng.random(n) * np.where(rng.random(n) < 0.1, 10, 1))
        series[f"d{d}"] = vals
        rows += [(f"d{d}", i, float(v)) for i, v in enumerate(vals)]
    odf = spark.createDataFrame(rows, "doc_id string, win_id int, value double")
    out = (peak_flags(odf, order_col="win_id", n_after=2, n_before=2,
                      alpha=0.1, delta=0.05).toPandas()
           .sort_values(["doc_id", "win_id"]))
    for d, vals in series.items():
        sub = out[out["doc_id"] == d]
        want = pick_peaks_series(vals, n_after=2, n_before=2,
                                 alpha=0.1, delta=0.05)
        got = sub.loc[sub["is_peak"] == 1, "win_id"].to_numpy()
        np.testing.assert_array_equal(got, want)
        # flags reproduce the reference scan's conds row-for-row
        from apollon_spark.onsets import peak_flag_series
        c12, c3 = peak_flag_series(vals, n_after=2, n_before=2,
                                   alpha=0.1, delta=0.05)
        np.testing.assert_array_equal(sub["cond12"].to_numpy(), c12.astype(int))
        np.testing.assert_array_equal(sub["cond3"].to_numpy(), c3.astype(int))
