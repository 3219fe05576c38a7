"""Replicates the driver's correctness gate: every queries() entry with
an oracle_sql() entry must match DuckDB row-for-row (order-insensitive,
after the declared rounding)."""
import math

import duckdb
import numpy as np
import pandas as pd
import pytest

import __spark_entry__ as entrymod

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


@pytest.fixture(scope="module")
def ddb(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')")
    return con


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object and len(df) and isinstance(df[c].iloc[0], (list, np.ndarray)):
            df[c] = df[c].apply(lambda v: tuple(v))
    return df.sort_values(list(df.columns)).reset_index(drop=True)


ORACLE_KEYS = sorted(entrymod.oracle_sql().keys())


@pytest.mark.parametrize("name", ORACLE_KEYS)
def test_query_matches_oracle(spark, sf_dir, ddb, name):
    q = entrymod.queries()[name]
    got = _canon(q(spark, sf_dir).toPandas())
    want = _canon(ddb.execute(entrymod.oracle_sql()[name]).fetchdf())
    assert list(got.columns) == list(want.columns), \
        f"{name}: columns {list(got.columns)} vs {list(want.columns)}"
    assert len(got) == len(want), f"{name}: {len(got)} vs {len(want)} rows"
    # the driver compares schemas: require matching dtypes (modulo
    # pandas nullable encodings of the same logical type)
    def _norm_dtype(dt):
        s = str(dt)
        return {"Int64": "int64", "Int32": "int32", "Float64": "float64",
                "boolean": "bool"}.get(s, s)
    for c in got.columns:
        g, w = _norm_dtype(got[c].dtype), _norm_dtype(want[c].dtype)
        if "float" in g and "float" in w:
            continue
        assert g == w, f"{name}:{c} dtype {g} vs {w}"
    for c in got.columns:
        g, w = got[c], want[c]
        if g.dtype.kind == "f" or w.dtype.kind == "f":
            np.testing.assert_allclose(
                g.to_numpy(dtype="float64"), w.to_numpy(dtype="float64"),
                rtol=0, atol=1e-9, err_msg=f"{name}:{c}", equal_nan=True)
        else:
            assert g.astype(str).tolist() == w.astype(str).tolist(), \
                f"{name}:{c} differs"


def test_rows_only_queries_run(spark, sf_dir):
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    for name, fn in qs.items():
        if name in oracles:
            continue
        n = fn(spark, sf_dir).count()
        assert n >= 0, name


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0


def test_literal_oracle_values_are_bit_exact(spark, sf_dir, ddb):
    """The main comparator's atol would mask 1-ulp literal-parse
    drift (DuckDB 1.0.0 parses plain decimal literals through DECIMAL
    — measured 1 ulp off for ~9-20% of repr() values). The
    literal-embedding oracles must be BIT-exact: media values via
    CAST(u32)/2^32 and hyperplanes via mantissa * 2^exp."""
    got = _canon(entrymod.queries()["media_features"](spark, sf_dir)
                 .toPandas())
    want = _canon(ddb.execute(
        entrymod.oracle_sql()["media_features"]).fetchdf())
    assert got["value"].tolist() == want["value"].tolist()

    # onsets output is integer-derived (frame = hop*win_id, time =
    # frame/fps): the oracle must match TUPLE-exact, not just within
    # atol — a set difference means a peak decision flipped.
    got = entrymod.queries()["onsets"](spark, sf_dir).toPandas()
    want = ddb.execute(entrymod.oracle_sql()["onsets"]).fetchdf()
    gset = sorted(map(tuple, got[sorted(got.columns)].itertuples(index=False)))
    wset = sorted(map(tuple, want[sorted(want.columns)].itertuples(index=False)))
    assert gset == wset

    # features_battery must be BIT-exact too (r04 failure mode: the
    # comparator's allclose treats -0.0 == +0.0 but the driver's
    # value-hash does not — DuckDB round() emits -0.0 for tiny negative
    # skewness, Spark +0.0; _round6's `+ 0.0` canonicalizes both sides).
    got = _canon(entrymod.queries()["features_battery"](spark, sf_dir)
                 .toPandas())
    want = _canon(ddb.execute(
        entrymod.oracle_sql()["features_battery"]).fetchdf())
    for c in got.columns:
        g, w = got[c].to_numpy(), want[c].to_numpy()
        if g.dtype.kind == "f":
            gb = g.astype("float64").view("uint64")
            wb = w.astype("float64").view("uint64")
            n_diff = int((gb != wb).sum())
            assert n_diff == 0, f"features_battery:{c} {n_diff} bit diffs"

    from apollon_spark.ml.simsearch import hyperplanes
    for planes in (hyperplanes(64, 4, 11),
                   np.random.default_rng(11).standard_normal((48, 64))):
        lit = entrymod._planes_literal(planes)
        flat = ddb.execute(f"SELECT {lit}::DOUBLE[][]").fetchone()[0]
        assert [x for row in flat for x in row] == planes.ravel().tolist()


def test_similarity_position_too_few_docs_fails_on_both_sides(
        spark, sf_dir, tmp_path):
    """Fewer descriptor docs than the 3x3 SOM's 9 units: the Spark
    gate raises a ValueError before the fit, and the DuckDB oracle
    raises from its init-weights CTE instead of fitting fewer units."""
    tiny = str(tmp_path)
    con = duckdb.connect()
    con.execute(
        f"COPY (SELECT * FROM read_parquet('{sf_dir}/documents.parquet') "
        f"ORDER BY doc_id LIMIT 4) TO '{tiny}/documents.parquet' "
        f"(FORMAT parquet)")
    with pytest.raises(ValueError, match="at least 9 descriptor docs"):
        entrymod.queries()["similarity_position"](spark, tiny)
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{tiny}/documents.parquet')")
    with pytest.raises(duckdb.Error, match="at least 9 descriptor docs"):
        con.execute(entrymod.oracle_sql()["similarity_position"]).fetchdf()
