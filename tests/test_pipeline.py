"""Checkpointed feature job: lineage records + idempotent resume."""
import os

import numpy as np
import pytest

from pyspark.sql import functions as F

from apollon_spark.datagen import synth_docs
from apollon_spark.operators.framing import FramingParams
from apollon_spark.pipeline import (_feature_checksum_col,
                                    _generic_checksum_col, read_lineage,
                                    run_feature_job)
from apollon_spark.spectral import FeatureConfig


def assert_lineage_matches_disk(spark, out, checksum_col):
    """Every lineage record's rows_out and checksum (observed on the
    bucket's write) equal a read of the parquet at its out_path; an
    empty bucket records 0 and 0.0."""
    for r in read_lineage(out):
        written = spark.read.parquet(r["out_path"])
        n, cs = written.select(F.count("*"),
                               F.sum(checksum_col(written))).first()
        assert (r["rows_out"], r["checksum"]) == (n, float(cs or 0.0)), r
        if r["rows_in"] == 0:
            assert (r["rows_out"], r["checksum"]) == (0, 0.0), r


def test_run_and_resume(spark, tmp_path):
    # 12 buckets over 8 docs leaves some buckets empty: they still
    # run, write and record rows_in 0
    for n_buckets in (4, 12):
        _run_and_resume(spark, str(tmp_path / f"job{n_buckets}"),
                        n_buckets)


def _run_and_resume(spark, out, n_buckets):
    docs = synth_docs(spark, 8, whales=False)
    cfg = FeatureConfig(framing=FramingParams(128, 64))

    s1 = run_feature_job(spark, docs, out, cfg, n_buckets=n_buckets)
    assert s1["buckets_done"] == n_buckets and s1["buckets_skipped"] == 0
    lineage = read_lineage(out)
    assert len(lineage) == n_buckets
    assert sum(r["rows_in"] for r in lineage) == 8
    if n_buckets > 8:
        assert any(r["rows_in"] == 0 for r in lineage)
    assert all(r["rows_out"] == 0 for r in lineage if r["rows_in"] == 0)
    assert all(r["wall_sec"] > 0 for r in lineage)
    assert all(r["params_hash"] == s1["params_hash"] for r in lineage)
    assert_lineage_matches_disk(spark, out,
                                lambda _df: _feature_checksum_col())

    feats = spark.read.parquet(os.path.join(out, "features"))
    n_rows = feats.count()
    assert n_rows == s1["rows_out"] > 0

    # resume: everything skips, output unchanged
    s2 = run_feature_job(spark, docs, out, cfg, n_buckets=n_buckets)
    assert s2["buckets_done"] == 0 and s2["buckets_skipped"] == n_buckets
    assert spark.read.parquet(os.path.join(out, "features")).count() == n_rows

    # partial failure: drop one marker -> exactly one bucket reruns,
    # same checksum as before (idempotent)
    before = {r["bucket"]: r["checksum"] for r in lineage}
    os.remove(os.path.join(out, "_done", "bucket=2"))
    s3 = run_feature_job(spark, docs, out, cfg, n_buckets=n_buckets)
    assert s3["buckets_done"] == 1 and s3["buckets_skipped"] == n_buckets - 1
    after = {r["bucket"]: r["checksum"] for r in read_lineage(out)}
    assert after == before

    # changed params: markers from the old cfg must NOT be trusted —
    # every bucket reruns under the new hash (stale-resume bug, r02)
    cfg2 = FeatureConfig(framing=FramingParams(64, 32))
    s4 = run_feature_job(spark, docs, out, cfg2, n_buckets=n_buckets)
    assert s4["params_hash"] != s1["params_hash"]
    assert s4["buckets_done"] == n_buckets and s4["buckets_skipped"] == 0
    assert all(r["params_hash"] == s4["params_hash"]
               for r in read_lineage(out))


DOCS_SCHEMA = "doc_id string, tokens array<int>, n_tok int, source string"
N_PERSEG = 16


def _degenerate_tables():
    rng = np.random.default_rng(8)

    def doc(doc_id, n_tok):
        return (doc_id, [int(t) for t in rng.poisson(6, n_tok)], n_tok,
                "web")

    same = doc("s", 40)[1]
    return {
        "empty": [],
        "one": [doc("solo", 40)],
        "short": [doc("z0", 0), doc("z1", 1), doc("z15", N_PERSEG - 1)],
        "same5": [(f"s{i}", same, len(same), "web") for i in range(5)],
    }


def test_bucketed_stages_degenerate_corpora(spark, tmp_path):
    """run_feature_job and `--stage hmm --resume-buckets 2` on an empty
    docs table, one doc, docs with n_tok in {0, 1, n_perseg - 1}, and
    five docs with identical tokens: each summary equals the written
    output, each lineage record equals a read of its bucket (an empty
    bucket records 0 rows and checksum 0.0), and every marker is
    written."""
    import contextlib
    import io
    import json

    from apollon_spark import cli, storage
    cfg = FeatureConfig(framing=FramingParams(N_PERSEG, N_PERSEG // 2))
    hmm_rows = {}
    for name, rows in _degenerate_tables().items():
        inp = str(tmp_path / name / "in")
        storage.write_table(spark.createDataFrame(rows, DOCS_SCHEMA), inp)
        feat_out = str(tmp_path / name / "features")
        s = run_feature_job(spark, storage.read_table(spark, inp), feat_out,
                            cfg, n_buckets=2)
        hmm_out = str(tmp_path / name / "hmm")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            assert cli.main(["--stage", "hmm", "--input", inp, "--output",
                             hmm_out, "--resume-buckets", "2"]) == 0
        printed = json.loads(buf.getvalue().strip().splitlines()[-1])
        for out, job_id, summary, checksum_col in (
                (feat_out, "features", s, lambda _df: _feature_checksum_col()),
                (hmm_out, "hmm", printed, _generic_checksum_col)):
            written = spark.read.parquet(os.path.join(out, job_id))
            assert summary["rows_out"] == written.count(), (name, job_id)
            assert (summary["buckets_done"], summary["buckets_skipped"]) \
                == (2, 0), (name, job_id)
            assert sorted(os.listdir(os.path.join(out, "_done"))) == [
                "bucket=0", "bucket=1"], (name, job_id)
            lineage = read_lineage(out)
            assert sum(r["rows_in"] for r in lineage) == len(rows)
            assert_lineage_matches_disk(spark, out, checksum_col)
        hmm_rows[name] = printed["rows_out"]
    # one fit per doc
    assert hmm_rows == {"empty": 0, "one": 1, "short": 3, "same5": 5}


def _text_docs(spark, ids):
    import pandas as pd
    return spark.createDataFrame(pd.DataFrame({
        "doc_id": ids,
        "text": [f"some text for {i} with words" for i in ids],
    }))


def test_bucketed_job_runs_no_count_job(spark, tmp_path, monkeypatch):
    """Each pending bucket is one Spark job, its write: rows_in, rows_out
    and the checksum come from Observations on that write, not from a
    count() action or a read-back of the bucket's parquet."""
    from pyspark.sql import DataFrameReader

    from apollon_spark.ml.textstats import text_profile
    from apollon_spark.pipeline import run_bucketed_job
    docs = _text_docs(spark, [f"d{i}" for i in range(12)])

    def no_count(self):
        raise AssertionError("run_bucketed_job ran a count() job")

    def no_read(self, *paths, **options):
        raise AssertionError(f"run_bucketed_job read {paths} back")

    monkeypatch.setattr(type(docs), "count", no_count)
    monkeypatch.setattr(DataFrameReader, "parquet", no_read)
    sc, group = spark.sparkContext, "test_bucketed_job_one_job_per_bucket"
    sc.setJobGroup(group, group)
    try:
        s = run_bucketed_job(spark, docs, str(tmp_path / "tp"),
                             text_profile, {"stage": "textstats"},
                             n_buckets=3, job_id="textstats")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 3
    assert s["buckets_done"] == 3 and s["rows_out"] == 12
    assert sum(r["rows_in"] for r in read_lineage(str(tmp_path / "tp"))) \
        == 12


def test_crash_mid_bucket_resume(spark, tmp_path, monkeypatch):
    """A bucket that dies after its parquet write but before its marker,
    and a bucket whose Spark job fails, both leave no marker; the error
    propagates. The rerun redoes only those buckets, its lineage
    checksums equal a clean run's, and no doc is written twice."""
    import json
    import types
    import zlib

    from pyspark.sql import functions as F

    from apollon_spark import pipeline
    from apollon_spark.ml.textstats import text_profile
    n_buckets = 4
    ids = [f"d{i}" for i in range(12)]
    poison = "poison"
    poison_bucket = zlib.crc32(poison.encode()) % n_buckets
    crash_bucket = (poison_bucket + 1) % n_buckets
    params = {"stage": "textstats"}

    def tf(part):
        # fails the Spark job of the bucket holding the planted doc
        ok = F.when(F.col("doc_id") == poison,
                    F.raise_error(F.lit("planted bad doc"))) \
            .otherwise(F.lit(True))
        return text_profile(part.where(ok))

    def run(docs, out):
        return pipeline.run_bucketed_job(spark, docs, out, tf, params,
                                         n_buckets=n_buckets,
                                         job_id="textstats")

    clean = str(tmp_path / "clean")
    run(_text_docs(spark, ids), clean)
    want = {r["bucket"]: r["checksum"] for r in read_lineage(clean)}

    def dump(record, fh):
        if record["bucket"] == crash_bucket:
            raise OSError("planted crash before the marker")
        json.dump(record, fh)

    out = str(tmp_path / "crashed")
    with monkeypatch.context() as m:
        m.setattr(pipeline, "json", types.SimpleNamespace(
            dump=dump, dumps=json.dumps, load=json.load))
        with pytest.raises(Exception) as err:
            run(_text_docs(spark, ids + [poison]), out)
    assert ("planted crash" in str(err.value)
            or "planted bad doc" in str(err.value))
    failed = {poison_bucket, crash_bucket}
    done = set(range(n_buckets)) - failed
    # every bucket was in flight at once, so the others ran to their
    # markers; the failed ones have none
    assert {int(n.split("=")[1]) for n in
            os.listdir(os.path.join(out, "_done"))} == done
    # the crashed bucket's parquet is on disk without a marker
    assert os.path.isdir(os.path.join(out, "textstats",
                                      f"bucket={crash_bucket}"))

    s = run(_text_docs(spark, ids), out)
    assert s["buckets_done"] == 2 and s["buckets_skipped"] == 2
    got = {r["bucket"]: r["checksum"] for r in read_lineage(out)}
    assert got == want
    written = spark.read.parquet(os.path.join(out, "textstats"))
    assert written.count() == written.select("doc_id").distinct().count() \
        == len(ids)


def test_generic_bucketed_job_resume(spark, tmp_path):
    """run_bucketed_job (the generalized harness behind the features
    stage) gives any per-doc transform the same marker/lineage/resume
    contract — exercised here with the text-profile transform."""
    import pandas as pd

    from apollon_spark.ml.textstats import text_profile
    from apollon_spark.pipeline import read_lineage, run_bucketed_job
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [f"d{i}" for i in range(12)],
        "text": [f"some text number {i} with words" for i in range(12)],
    }))
    out = str(tmp_path / "tp")
    params = {"stage": "textstats", "text_col": "text"}
    tf = lambda part: text_profile(part)  # noqa: E731

    s1 = run_bucketed_job(spark, docs, out, tf, params,
                          n_buckets=3, job_id="textstats")
    assert s1["buckets_done"] == 3 and s1["rows_out"] == 12
    lineage = read_lineage(out)
    assert len(lineage) == 3
    assert sum(r["rows_in"] for r in lineage) == 12
    assert_lineage_matches_disk(spark, out, _generic_checksum_col)
    # resume: nothing reruns
    s2 = run_bucketed_job(spark, docs, out, tf, params,
                          n_buckets=3, job_id="textstats")
    assert s2["buckets_done"] == 0 and s2["buckets_skipped"] == 3
    # params change invalidates every marker
    s3 = run_bucketed_job(spark, docs, out, tf, {**params, "v": 2},
                          n_buckets=3, job_id="textstats")
    assert s3["buckets_done"] == 3 and s3["buckets_skipped"] == 0
    # output is readable as one partitioned dataset
    got = spark.read.parquet(out + "/textstats").count()
    assert got == 12


def test_bucket_count_change_invalidates_markers(spark, tmp_path):
    """Resuming with a different n_buckets must rerun EVERYTHING:
    bucket membership is crc32(doc_id) % n_buckets, so old markers
    answer a different partitioning — honoring them would duplicate
    every doc whose slice moved (n_buckets is folded into the params
    hash)."""
    import pandas as pd

    from apollon_spark.ml.textstats import text_profile
    from apollon_spark.pipeline import run_bucketed_job
    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [f"d{i}" for i in range(12)],
        "text": [f"some text number {i} with words" for i in range(12)],
    }))
    out = str(tmp_path / "tp2")
    params = {"stage": "textstats", "text_col": "text"}
    tf = lambda part: text_profile(part)  # noqa: E731

    s1 = run_bucketed_job(spark, docs, out, tf, params,
                          n_buckets=2, job_id="textstats")
    assert s1["buckets_done"] == 2
    s2 = run_bucketed_job(spark, docs, out, tf, params,
                          n_buckets=3, job_id="textstats")
    assert s2["buckets_done"] == 3 and s2["buckets_skipped"] == 0
    # the combined dataset holds each doc exactly once: the 3-bucket
    # run overwrote bucket=0/1 and wrote bucket=2 fresh
    got = spark.read.parquet(out + "/textstats")
    assert got.count() == 12
    assert got.select("doc_id").distinct().count() == 12

    # shrink back to 2: the stale bucket=2 slice (whose docs the
    # 2-bucket run re-writes into buckets 0/1) must be removed, else
    # the combined dataset duplicates them
    s3 = run_bucketed_job(spark, docs, out, tf, params,
                          n_buckets=2, job_id="textstats")
    assert s3["buckets_done"] == 2
    assert s3.get("stale_buckets_removed") == 1
    got = spark.read.parquet(out + "/textstats")
    assert got.count() == 12
    assert got.select("doc_id").distinct().count() == 12


def test_ingest_roundtrip_token_equality(spark, tmp_path, sf_dir):
    """The north-rule per-row invariant: the ingested table (plain
    parquet AND the doc_id-bucketed layout) preserves every token
    array EXACTLY — integer-for-integer equality against the source
    derivation, not just counts."""
    from apollon_spark import storage
    from apollon_spark.tokenize import docs_from_documents

    src = docs_from_documents(spark, sf_dir)
    want = {r["doc_id"]: list(r["tokens"]) for r in src.collect()}

    plain = str(tmp_path / "ingest_plain")
    storage.write_table(src, plain)
    got = {r["doc_id"]: list(r["tokens"])
           for r in storage.read_table(spark, plain).collect()}
    assert got == want

    storage.write_bucketed(src, "ingest_tok_eq", ["doc_id"], 4,
                           sort_cols=["n_tok"],
                           path=str(tmp_path / "ingest_bucketed"))
    got_b = {r["doc_id"]: list(r["tokens"])
             for r in spark.table("ingest_tok_eq").collect()}
    assert got_b == want
