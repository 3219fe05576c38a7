"""As-of join (the union sort-merge) vs a local pd.merge_asof oracle."""
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from apollon_spark.operators.asof import asof_join


@pytest.fixture(scope="module")
def tables(spark):
    rng = np.random.default_rng(42)
    n_l, n_r = 800, 300
    # hot key 'k0' holds half the rows — one window task sorts half
    keys_l = np.where(rng.random(n_l) < 0.5, "k0",
                      np.char.add("k", rng.integers(1, 6, n_l).astype(str)))
    keys_r = np.where(rng.random(n_r) < 0.5, "k0",
                      np.char.add("k", rng.integers(1, 6, n_r).astype(str)))
    lpdf = pd.DataFrame({
        "key": keys_l,
        "t": rng.choice(np.arange(0, 40_000), n_l, replace=False).astype("int64"),
        "lval": rng.normal(size=n_l),
    })
    rpdf = pd.DataFrame({
        "key": keys_r,
        "rt": rng.choice(np.arange(0, 40_000), n_r, replace=False).astype("int64"),
        "rval": rng.normal(size=n_r),
        "rtag": rng.integers(0, 100, n_r).astype("int64"),
    })
    return (spark.createDataFrame(lpdf), spark.createDataFrame(rpdf),
            lpdf, rpdf)


def _oracle(lpdf, rpdf, allow_exact=True, tolerance=None):
    out = []
    for key, grp in lpdf.groupby("key"):
        r = rpdf[rpdf["key"] == key].sort_values("rt")[["rt", "rval", "rtag"]]
        m = pd.merge_asof(grp.sort_values("t"), r, left_on="t", right_on="rt",
                          allow_exact_matches=allow_exact,
                          tolerance=tolerance, direction="backward")
        out.append(m)
    return (pd.concat(out).sort_values(["key", "t"]).reset_index(drop=True)
            [["key", "t", "lval", "rval", "rtag"]])


def _got(df):
    return (df.toPandas().sort_values(["key", "t"]).reset_index(drop=True)
            [["key", "t", "lval", "rval", "rtag"]])


def test_asof_matches_oracle(spark, tables):
    left, right, lpdf, rpdf = tables
    got = _got(asof_join(left, right, on="t", right_on="rt", by="key",
                         value_cols=["rval", "rtag"]))
    want = _oracle(lpdf, rpdf)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_asof_strict_inequality(spark, tables):
    left, right, lpdf, rpdf = tables
    got = _got(asof_join(left, right, on="t", right_on="rt", by="key",
                         value_cols=["rval", "rtag"], allow_exact=False))
    want = _oracle(lpdf, rpdf, allow_exact=False)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_asof_tolerance(spark, tables):
    left, right, lpdf, rpdf = tables
    got = _got(asof_join(left, right, on="t", right_on="rt", by="key",
                         value_cols=["rval", "rtag"], tolerance=500.0))
    want = _oracle(lpdf, rpdf, tolerance=500)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_asof_tolerance_and_strict(spark, tables):
    left, right, lpdf, rpdf = tables
    got = _got(asof_join(left, right, on="t", right_on="rt", by="key",
                         value_cols=["rval", "rtag"], allow_exact=False,
                         tolerance=700.0))
    want = _oracle(lpdf, rpdf, allow_exact=False, tolerance=700)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_asof_no_match_rows_survive(spark):
    left = spark.createDataFrame(
        pd.DataFrame({"key": ["a", "a"], "t": [1, 100], "lval": [1.0, 2.0]}))
    right = spark.createDataFrame(
        pd.DataFrame({"key": ["a"], "rt": [50], "rval": [9.0]}))
    got = asof_join(left, right, on="t", right_on="rt", by="key") \
        .toPandas().sort_values("t")
    assert len(got) == 2
    assert np.isnan(got.iloc[0]["rval"])
    assert got.iloc[1]["rval"] == 9.0


# ---------------------------------------------------------------------------
# Property-based: the one path vs per-key pd.merge_asof on adversarial
# inputs (left/right time ties, negatives, empty right sides)
# ---------------------------------------------------------------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(max_examples=12, deadline=None,
          suppress_health_check=list(HealthCheck))
@given(
    lts=st.lists(st.integers(-50, 50), min_size=1, max_size=25),
    rts=st.lists(st.integers(-50, 50), min_size=0, max_size=25),
    allow_exact=st.booleans(),
)
def test_asof_matches_pandas_property(spark, lts, rts, allow_exact):
    keys = ["a", "b"]
    lpdf = pd.DataFrame({
        "key": [keys[i % 2] for i in range(len(lts))],
        "t": np.array(lts, dtype="int64"),
        "eid": np.arange(len(lts), dtype="int64")})
    rpdf = pd.DataFrame({
        "key": [keys[i % 2] for i in range(len(rts))],
        "rt": np.array(rts, dtype="int64"),
        "rval": np.arange(len(rts), dtype="float64")})
    # dedupe (key, rt): with timestamp ties the as-of "latest" row is
    # ambiguous (pandas breaks it by row position, a notion a
    # distributed sort does not have)
    rpdf = rpdf.drop_duplicates(["key", "rt"])
    l = spark.createDataFrame(lpdf)
    r = spark.createDataFrame(rpdf) if len(rpdf) else \
        spark.createDataFrame(rpdf, schema="key string, rt long, rval double")
    cols = ["key", "t", "eid", "rval"]
    got = asof_join(l, r, on="t", right_on="rt", by="key",
                    allow_exact=allow_exact).toPandas() \
        .sort_values(["key", "t", "eid"]).reset_index(drop=True)[cols]
    want = pd.concat([
        pd.merge_asof(grp.sort_values("t"),
                      rpdf[rpdf["key"] == key].sort_values("rt")
                      [["rt", "rval"]],
                      left_on="t", right_on="rt",
                      allow_exact_matches=allow_exact)
        for key, grp in lpdf.groupby("key")]) \
        .sort_values(["key", "t", "eid"]).reset_index(drop=True)[cols]
    pd.testing.assert_frame_equal(got, want)


def test_asof_forward_matches_pandas(spark):
    """direction='forward' == pd.merge_asof(direction='forward') on a
    random fixture, without and with tolerance."""
    import numpy as np
    import pandas as pd
    from apollon_spark.operators.asof import asof_join
    rng = np.random.default_rng(11)
    lpdf = pd.DataFrame({
        "k": rng.integers(0, 4, 60),
        "t": np.sort(rng.integers(0, 1000, 60)).astype("int64"),
        "lid": np.arange(60)})
    # unique rt per key: duplicate (k, rt) rows make "the next event"
    # ambiguous (pandas breaks such ties by row position, a notion a
    # distributed sort does not have)
    rpdf = pd.DataFrame({
        "k": rng.integers(0, 4, 40),
        "rt": np.sort(rng.choice(1000, 40, replace=False)).astype("int64"),
        "val": rng.random(40).round(6)})
    want = pd.merge_asof(
        lpdf.sort_values("t"), rpdf.sort_values("rt"),
        left_on="t", right_on="rt", by="k",
        direction="forward").sort_values("lid")
    left = spark.createDataFrame(lpdf)
    right = spark.createDataFrame(rpdf)
    got = asof_join(left, right, on="t", by="k", right_on="rt",
                    value_cols=["val"], direction="forward") \
        .toPandas().sort_values("lid")
    np.testing.assert_allclose(
        got["val"].to_numpy(dtype="float64"),
        want["val"].to_numpy(dtype="float64"), equal_nan=True)

    # forward + tolerance: matches further ahead than 50 are nulled
    want_tol = pd.merge_asof(
        lpdf.sort_values("t"), rpdf.sort_values("rt"),
        left_on="t", right_on="rt", by="k",
        direction="forward", tolerance=50).sort_values("lid")
    got_tol = asof_join(left, right, on="t", by="k", right_on="rt",
                        value_cols=["val"], direction="forward",
                        tolerance=50.0).toPandas().sort_values("lid")
    np.testing.assert_allclose(
        got_tol["val"].to_numpy(dtype="float64"),
        want_tol["val"].to_numpy(dtype="float64"), equal_nan=True)


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    lts=st.lists(st.integers(0, 200), min_size=1, max_size=25),
    rts=st.lists(st.integers(0, 200), min_size=1, max_size=20,
                 unique=True),
    allow_exact=st.booleans(),
    tol=st.one_of(st.none(), st.integers(5, 60)),
)
def test_asof_nearest_matches_pandas_property(spark, lts, rts,
                                              allow_exact, tol):
    """direction='nearest' == pd.merge_asof(direction='nearest') for
    random fixtures across allow_exact and tolerance (rts unique —
    duplicate right keys make the tie arbitrary)."""
    import numpy as np
    import pandas as pd
    from apollon_spark.operators.asof import asof_join
    lpdf = pd.DataFrame({
        "k": [1] * len(lts), "t": np.sort(np.array(lts, "int64")),
        "lid": np.arange(len(lts))})
    rpdf = pd.DataFrame({
        "k": [1] * len(rts), "rt": np.sort(np.array(rts, "int64"))})
    rpdf["val"] = np.arange(len(rts), dtype="float64")
    want = pd.merge_asof(
        lpdf, rpdf, left_on="t", right_on="rt", by="k",
        direction="nearest", allow_exact_matches=allow_exact,
        tolerance=tol).sort_values("lid")
    got = asof_join(spark.createDataFrame(lpdf),
                    spark.createDataFrame(rpdf),
                    on="t", by="k", right_on="rt", value_cols=["val"],
                    allow_exact=allow_exact,
                    tolerance=float(tol) if tol is not None else None,
                    direction="nearest").toPandas().sort_values("lid")
    np.testing.assert_allclose(
        got["val"].to_numpy("float64"), want["val"].to_numpy("float64"),
        equal_nan=True)


def test_asof_attaches_matched_row_verbatim_with_null_values(spark):
    """pd.merge_asof parity when right VALUE columns contain nulls:
    the matched row's value is attached verbatim (NaN included) — a
    per-column ignorenulls fill would smuggle an older row's value
    under the matched row's timestamp (code-review r02 finding)."""
    lpdf = pd.DataFrame({"k": [1, 1], "t": np.array([4, 20], "int64"),
                         "lid": [0, 1]})
    rpdf = pd.DataFrame({
        "k": [1, 1, 1],
        "rt": np.array([1, 3, 9], "int64"),
        "val": [7.0, np.nan, 5.0]})
    left, right = spark.createDataFrame(lpdf), spark.createDataFrame(rpdf)
    # backward at t=4 matches rt=3 whose val is NaN -> NaN, not 7.0
    got = asof_join(left, right, on="t", by="k", right_on="rt",
                    value_cols=["val"]).toPandas().sort_values("lid")
    want = pd.merge_asof(lpdf, rpdf, left_on="t", right_on="rt", by="k")
    np.testing.assert_allclose(got["val"].to_numpy(),
                               want["val"].to_numpy(), equal_nan=True)
    assert np.isnan(got.iloc[0]["val"])
    assert got.iloc[1]["val"] == 5.0
    # nearest at t=4: rt=3 (dist 1) beats rt=9 (dist 5); its val is NaN
    got_n = asof_join(left, right, on="t", by="k", right_on="rt",
                      value_cols=["val"], direction="nearest") \
        .toPandas().sort_values("lid")
    want_n = pd.merge_asof(lpdf, rpdf, left_on="t", right_on="rt",
                           by="k", direction="nearest")
    np.testing.assert_allclose(got_n["val"].to_numpy(),
                               want_n["val"].to_numpy(), equal_nan=True)
