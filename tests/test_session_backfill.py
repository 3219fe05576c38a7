"""Sessionize / backfill / lag-lead operators vs local pandas oracles."""
import numpy as np
import pandas as pd

from pyspark.sql import functions as F

from apollon_spark.operators.backfill import (delay_embed_cols,
                                              fill_edges_clip,
                                              flux_from_series,
                                              lag_lead_delta, locf,
                                              minmax_normalize,
                                              rolling_stats, smooth_stat,
                                              standardize)
from apollon_spark.operators.sessionize import session_bounds, sessionize


def _ev(spark, n=500, seed=3):
    rng = np.random.default_rng(seed)
    pdf = pd.DataFrame({
        "key": np.char.add("u", rng.integers(0, 8, n).astype(str)),
        "t": np.sort(rng.choice(np.arange(0, 100_000), n, replace=False)),
        "v": np.where(rng.random(n) < 0.3, np.nan, rng.normal(size=n)),
    })
    return spark.createDataFrame(pdf), pdf


def test_sessionize_matches_pandas(spark):
    df, pdf = _ev(spark)
    got = sessionize(df, on="t", gap=800, by="key").toPandas() \
        .sort_values(["key", "t"]).reset_index(drop=True)
    for key, grp in pdf.groupby("key"):
        grp = grp.sort_values("t")
        gaps = grp["t"].diff()
        want = ((gaps.isna()) | (gaps > 800)).cumsum() - 1
        g = got[got["key"] == key].sort_values("t")["session_id"].to_numpy()
        np.testing.assert_array_equal(g, want.to_numpy())


def test_session_bounds(spark):
    df, _ = _ev(spark)
    sess = sessionize(df, on="t", gap=800, by="key")
    b = session_bounds(sess, on="t", by="key").toPandas()
    assert (b["session_start"] <= b["session_end"]).all()
    assert (b["n_rows"] >= 1).all()
    total = b["n_rows"].sum()
    assert total == df.count()


def test_locf_and_clip(spark):
    df, pdf = _ev(spark)
    got = locf(df, ["v"], on="t", by="key").toPandas() \
        .sort_values(["key", "t"]).reset_index(drop=True)
    for key, grp in pdf.groupby("key"):
        want = grp.sort_values("t")["v"].ffill().to_numpy()
        g = got[got["key"] == key].sort_values("t")["v"].to_numpy()
        np.testing.assert_allclose(g, want, equal_nan=True)

    clipped = fill_edges_clip(df, ["v"], on="t", by="key").toPandas()
    for key, grp in clipped.groupby("key"):
        if grp["v"].notna().any():
            assert grp["v"].notna().all() or pdf[pdf.key == key]["v"].isna().all()


def test_lag_lead_grad_np_gradient_parity(spark):
    df, pdf = _ev(spark)
    pdf = pdf.assign(v=pdf["v"].fillna(0.0))
    df = spark.createDataFrame(pdf)
    got = lag_lead_delta(df, "v", on="t", by="key").toPandas() \
        .sort_values(["key", "t"])
    flux = flux_from_series(df, "v", on="t", by="key").toPandas()
    for key, grp in pdf.groupby("key"):
        vals = grp.sort_values("t")["v"].to_numpy()
        if len(vals) < 2:
            continue
        want = np.gradient(vals)
        g = got[got["key"] == key].sort_values("t")["v_grad"].to_numpy()
        np.testing.assert_allclose(g, want, rtol=1e-12)
        f = flux[flux["key"] == key].sort_values("t")["flux"].to_numpy()
        np.testing.assert_allclose(f, np.maximum(want, 0.0), rtol=1e-12)


def test_rolling_stats(spark):
    df, pdf = _ev(spark)
    got = rolling_stats(df, "v", on="t", before=3, after=2, by="key") \
        .toPandas().sort_values(["key", "t"])
    key = pdf["key"].iloc[0]
    grp = pdf[pdf["key"] == key].sort_values("t").reset_index(drop=True)
    g = got[got["key"] == key].sort_values("t").reset_index(drop=True)
    for i in range(len(grp)):
        lo, hi = max(0, i - 3), min(len(grp), i + 3)
        window = grp["v"].iloc[lo:hi]
        if window.notna().any():
            np.testing.assert_allclose(g["v_win_mean"].iloc[i], window.mean(),
                                       rtol=1e-9)


def test_standardize_and_minmax(spark):
    df, _ = _ev(spark)
    out = standardize(df, ["t"], by="key")
    stats = (out.groupBy("key")
             .agg(F.avg("t_z").alias("mu"), F.stddev_pop("t_z").alias("sd"))
             .toPandas())
    np.testing.assert_allclose(stats["mu"], 0.0, atol=1e-9)
    np.testing.assert_allclose(stats["sd"], 1.0, atol=1e-9)
    mm = minmax_normalize(df, ["t"], by="key").toPandas()
    assert mm["t_mm"].min() >= 0.0 and mm["t_mm"].max() <= 1.0


def test_smooth_stat(spark):
    df, pdf = _ev(spark)
    out = smooth_stat(df, "t", by="key").toPandas()
    for key, grp in out.groupby("key"):
        src = pdf[pdf["key"] == key]["t"]
        mu, sd = src.mean(), src.std(ddof=0)
        inside = (grp["t"] >= mu - sd) & (grp["t"] <= mu + sd)
        np.testing.assert_allclose(
            grp.loc[inside, "t_smooth"], mu, rtol=1e-9)
        np.testing.assert_allclose(
            grp.loc[~inside, "t_smooth"], grp.loc[~inside, "t"], rtol=1e-12)


def test_delay_embed_cols(spark):
    pdf = pd.DataFrame({"key": ["a"] * 50, "t": range(50),
                        "v": np.arange(50.0)})
    df = spark.createDataFrame(pdf)
    out = delay_embed_cols(df, "v", on="t", delay=3, m_dim=3, by="key") \
        .toPandas().sort_values("t")
    # row t holds v[t], v[t+3], v[t+6]; hard cut at the end
    assert len(out) == 50 - 6
    np.testing.assert_allclose(out["v_d1"], out["v"] + 3)
    np.testing.assert_allclose(out["v_d2"], out["v"] + 6)


def test_locf_property_vs_pandas(spark):
    """Property-based LOCF parity: ANY NaN pattern / key skew / limit
    (incl. all-NaN keys, limit=0, limit >= run length) must match
    pandas groupby-ffill row-for-row. Few examples — each is a real
    Spark job — with a wide generator."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    @settings(max_examples=8, deadline=None,
              suppress_health_check=list(HealthCheck))
    @given(n=st.integers(min_value=1, max_value=60),
           nan_p=st.floats(min_value=0.0, max_value=1.0),
           n_keys=st.integers(min_value=1, max_value=5),
           limit=st.one_of(st.none(), st.integers(min_value=0, max_value=8)),
           seed=st.integers(min_value=0, max_value=2**31 - 1))
    def prop(n, nan_p, n_keys, limit, seed):
        rng = np.random.default_rng(seed)
        vals = rng.random(n).round(6)
        vals[rng.random(n) < nan_p] = np.nan
        pdf = pd.DataFrame({"k": rng.integers(0, n_keys, n),
                            "t": np.arange(n, dtype="int64"), "v": vals})
        want = pdf.sort_values(["k", "t"]).copy()
        # pandas treats limit=0 as invalid; the operator contract is
        # "fill nothing" — normalize the oracle accordingly
        if limit == 0:
            pass
        else:
            want["v"] = want.groupby("k")["v"].ffill(limit=limit)
        got = locf(spark.createDataFrame(pdf), ["v"], on="t", by="k",
                   limit=limit).toPandas().sort_values(["k", "t"])
        np.testing.assert_allclose(got["v"].to_numpy(),
                                   want["v"].to_numpy(), equal_nan=True)

    prop()


def test_locf_limit_matches_pandas_ffill(spark):
    """locf(limit=n) == pandas ffill(limit=n) row-for-row."""
    import numpy as np
    import pandas as pd
    from apollon_spark.operators.backfill import locf
    rng = np.random.default_rng(3)
    vals = rng.random(50).round(6)
    vals[rng.random(50) < 0.6] = np.nan
    pdf = pd.DataFrame({"k": rng.integers(0, 3, 50),
                        "t": np.arange(50, dtype="int64"), "v": vals})
    want = pdf.sort_values(["k", "t"]).copy()
    want["v"] = want.groupby("k")["v"].ffill(limit=2)
    got = locf(spark.createDataFrame(pdf), ["v"], on="t", by="k",
               limit=2).toPandas().sort_values(["k", "t"])
    np.testing.assert_allclose(got["v"].to_numpy(), want["v"].to_numpy(),
                               equal_nan=True)
