"""Empty-input robustness: every core operator must return an empty
result (not crash) on a schema-correct empty frame — at 100 TB a
filter can legitimately leave a partition, bucket, or whole input
empty."""
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def empty_docs(spark):
    return spark.createDataFrame(
        [], "doc_id string, tokens array<int>, n_tok int, source string")


@pytest.fixture(scope="module")
def empty_events(spark):
    return spark.createDataFrame(
        [], "user_id long, event_id long, ts timestamp, "
            "event_type string, value double")


@pytest.fixture(scope="module")
def empty_emb(spark):
    return spark.createDataFrame(
        [], "vec_id long, embedding array<double>")


def test_battery_paths_empty(spark, empty_docs):
    from apollon_spark.operators.framing import FramingParams, segment_docs
    from apollon_spark.spectral import FeatureConfig, extract_features
    cfg = FeatureConfig(framing=FramingParams(32, 16))
    assert extract_features(empty_docs, cfg).count() == 0
    assert extract_features(empty_docs, cfg, split=True,
                            chunk_segs=4).count() == 0
    assert segment_docs(empty_docs, FramingParams(32, 16)).count() == 0


def test_onsets_hmm_nonlinear_empty(spark, empty_docs):
    from apollon_spark.hmm import fit_hmm_docs
    from apollon_spark.nonlinear import extract_nonlinear
    from apollon_spark.onsets import detect_onsets
    from apollon_spark.operators.framing import FramingParams
    from apollon_spark.spectral import FeatureConfig
    cfg = FeatureConfig(framing=FramingParams(16, 8))
    assert detect_onsets(empty_docs, cfg).count() == 0
    assert fit_hmm_docs(empty_docs, m_states=2).count() == 0
    assert extract_nonlinear(empty_docs).count() == 0


def test_relational_ops_empty(spark, empty_events):
    from apollon_spark.operators.asof import asof_join
    from apollon_spark.operators.sessionize import sessionize
    left = empty_events.select(
        "user_id", "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t"))
    right = empty_events.select(
        "user_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("rt"),
        F.col("value"))
    for direction in ("backward", "forward", "nearest"):
        out = asof_join(left, right, on="t", right_on="rt", by="user_id",
                        direction=direction)
        assert out.count() == 0
    assert sessionize(
        left.withColumnRenamed("t", "t_us"), on="t_us",
        gap=1000, by="user_id").count() == 0


def test_dedup_family_empty(spark, empty_docs, empty_emb):
    from apollon_spark.ml import dedup
    docs = empty_docs.withColumn("text", F.lit("x")).where(F.lit(False))
    assert dedup.exact_dedup(docs, "text", "doc_id").count() == 0
    assert dedup.minhash_docs(empty_docs, 4, 2).count() == 0
    assert dedup.simhash_docs(empty_docs, 8).count() == 0
    assert dedup.simhash_near_dups(empty_docs, n_bits=8,
                                   n_blocks=4).count() == 0
    assert dedup.cosine_near_dups(empty_emb, "vec_id", "embedding",
                                  0.5).count() == 0
    assert dedup.cosine_near_dups_lsh(empty_emb, "vec_id", "embedding",
                                      0.5).count() == 0


def test_simsearch_empty_corpus(spark, empty_emb):
    """Empty CORPUS with non-empty queries: candidate set is empty."""
    from apollon_spark.ml.simsearch import brute_force_topk, lsh_ann_topk
    q = np.ones((2, 4))
    q_ids = np.arange(2, dtype="int64")
    assert brute_force_topk(empty_emb, q, q_ids, k=3).count() == 0
    assert lsh_ann_topk(empty_emb, q, q_ids, k=3, n_planes=4).count() == 0


def test_som_bmu_empty(spark, empty_emb):
    from apollon_spark.som import assign_bmu
    w = np.ones((4, 4))
    assert assign_bmu(empty_emb, "embedding", w).count() == 0


def test_textstats_empty(spark):
    from apollon_spark.ml.textstats import text_profile
    documents = spark.createDataFrame([], "doc_id long, text string")
    assert text_profile(documents).count() == 0


def test_packing_curation_empty(spark, empty_docs):
    from apollon_spark.ml.curation import (contamination_check,
                                           repetition_metrics,
                                           sample_stratified, vocab_stats)
    from apollon_spark.operators.packing import pack_sequences
    assert pack_sequences(empty_docs, 128).count() == 0
    assert contamination_check(empty_docs, empty_docs).count() == 0
    assert sample_stratified(empty_docs, 5).count() == 0
    assert vocab_stats(empty_docs).count() == 0
    assert repetition_metrics(empty_docs).count() == 0


def test_dup_clusters_empty_pairs(spark, empty_docs):
    """No pairs: every doc (including none) is a singleton keeper;
    empty docs + empty pairs yields an empty verdict."""
    from apollon_spark.ml.dedup import (connected_components,
                                        resolve_dup_clusters)
    empty_pairs = spark.createDataFrame([], "id_a string, id_b string")
    assert connected_components(empty_pairs).count() == 0
    assert resolve_dup_clusters(empty_docs, empty_pairs).count() == 0
    docs = spark.createDataFrame([("a", 3), ("b", 5)],
                                 "doc_id string, n_tok int")
    out = {r["doc_id"]: r for r in
           resolve_dup_clusters(docs, empty_pairs).collect()}
    assert all(out[d]["keep"] == 1 and out[d]["cluster_size"] == 1
               for d in "ab")


def test_r04_ops_empty(spark, empty_docs):
    """Empty-input sweep for the r04 additions: flag-level peak scan,
    fixed-parameter E-step, hash-packed contamination (empty pairs
    through connected components: test_dup_clusters_empty_pairs)."""
    from apollon_spark.hmm import estep_docs
    from apollon_spark.ml.curation import contamination_check
    from apollon_spark.onsets import peak_flags

    empty_odf = spark.createDataFrame(
        [], "doc_id string, win_id int, value double")
    assert peak_flags(empty_odf, order_col="win_id").count() == 0

    assert estep_docs(empty_docs, (16.0, 128.0),
                      ((0.75, 0.25), (0.375, 0.625)), (0.5, 0.5)) \
        .count() == 0

    assert contamination_check(empty_docs, empty_docs, k=5,
                               packing="hash").count() == 0


def test_late_r04_ops_empty(spark, empty_docs):
    """Empty-input sweep for the late-r04 additions: quality filter,
    LM scorer, EM-step docs, budget planner (no-mass raise)."""
    import pytest as _pytest

    from apollon_spark.hmm import em_step_docs
    from apollon_spark.ml.curation import (budget_mixture_weights,
                                           ngram_lm_score, quality_filter)

    empty_text = spark.createDataFrame([], "doc_id string, text string")
    assert quality_filter(empty_text).count() == 0

    assert ngram_lm_score(empty_docs, empty_docs).count() == 0
    # empty reference, non-empty corpus: pure smoothing-mass scores
    docs = spark.createDataFrame(
        [("a", [1, 2, 3], 3)], "doc_id string, tokens array<int>, n_tok int")
    row = ngram_lm_score(docs, empty_docs).collect()[0]
    assert row["n_bigrams"] == 2 and row["mean_logp"] < 0

    assert em_step_docs(empty_docs, (16.0, 128.0),
                        ((0.75, 0.25), (0.375, 0.625)), (0.5, 0.5)) \
        .count() == 0

    with _pytest.raises(ValueError, match="no ratio mass"):
        budget_mixture_weights(empty_docs, {"web": 1.0}, 1000)


def test_cluster_stage_degenerate_corpora(spark, tmp_path, capsys):
    """`--stage cluster` end to end on degenerate docs tables: empty
    (0 verdict rows), one doc (kept), and five docs with identical
    tokens (one cluster of size 5 with exactly one keeper)."""
    import json

    from apollon_spark import cli, storage
    toks = [3, 1, 4, 1, 5, 9, 2, 6]
    cases = {
        "empty": [],
        "one": [("d0", toks, len(toks), "s")],
        "same5": [(f"d{i}", toks, len(toks), "s") for i in range(5)],
    }
    got = {}
    for name, rows in cases.items():
        src, out = str(tmp_path / f"{name}_in"), str(tmp_path / f"{name}_out")
        storage.write_table(spark.createDataFrame(
            rows, "doc_id string, tokens array<int>, n_tok int, "
                  "source string"), src)
        assert cli.main(["--stage", "cluster", "--input", src,
                         "--output", out]) == 0
        printed = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        got[name] = (printed, [r.asDict() for r in
                               storage.read_table(spark, out).collect()])

    assert got["empty"] == ({"docs": 0, "kept": 0}, [])
    assert got["one"] == ({"docs": 1, "kept": 1},
                          [{"doc_id": "d0", "cluster_id": "d0",
                            "cluster_size": 1, "keep": 1}])
    printed, rows = got["same5"]
    assert printed == {"docs": 5, "kept": 1}
    assert len(rows) == 5 and sum(r["keep"] for r in rows) == 1
    assert {(r["cluster_id"], r["cluster_size"]) for r in rows} \
        == {("d0", 5)}


def test_semdedup_stage_degenerate_corpora(spark, tmp_path, capsys):
    """`--stage semdedup --n-clusters 8` end to end on degenerate vector
    tables: one vector (kept), five identical vectors (one duplicate
    group, one keeper), three zero vectors (cosine 0, never NaN: all
    kept) and three random vectors, fewer than the cluster count (all
    kept at threshold 0.9)."""
    import json

    from apollon_spark import cli, storage
    rng = np.random.default_rng(4)
    v = [0.5, -1.0, 2.0, 0.25]
    cases = {
        "one": [v],
        "same5": [v] * 5,
        "zero3": [[0.0] * 4] * 3,
        "rand3": rng.standard_normal((3, 4)).tolist(),
    }
    got = {}
    for name, vecs in cases.items():
        src, out = str(tmp_path / f"{name}_in"), str(tmp_path / f"{name}_out")
        storage.write_table(spark.createDataFrame(
            [(i, x) for i, x in enumerate(vecs)],
            "vec_id long, embedding array<double>"), src)
        assert cli.main(["--stage", "semdedup", "--input", src,
                         "--output", out, "--n-clusters", "8",
                         "--threshold", "0.9"]) == 0
        got[name] = json.loads(
            capsys.readouterr().out.strip().splitlines()[-1])

    assert got == {
        "one": {"vectors": 1, "kept": 1, "dropped": 0},
        "same5": {"vectors": 5, "kept": 1, "dropped": 4},
        "zero3": {"vectors": 3, "kept": 3, "dropped": 0},
        "rand3": {"vectors": 3, "kept": 3, "dropped": 0},
    }
