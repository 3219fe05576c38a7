"""Bucketed jobs with per-partition lineage, metrics, and idempotent
resume (north rule, SURVEY §7.1 M6).

Work is partitioned into ``n_buckets`` deterministic doc_id-hash
buckets (independent of Spark's physical partitioning, so resume
semantics survive cluster-size changes). Buckets whose
``_done/bucket=K`` marker exists (under the same params hash) are
skipped instantly; every pending bucket is one unit of work:

  1. runs the stage's transform on its doc slice,
  2. writes output parquet under ``out/<job_id>/bucket=K/`` in one
     Spark job; two ``pyspark.sql.Observation``s on that write observe
     the rows it reads, the rows it writes and their checksum (no
     count job, no read-back of the parquet),
  3. emits a lineage+metrics record (rows in/out, checksum, wall
     seconds, params hash) under ``out/_lineage/``,
  4. commits the marker last — a crash before the marker reruns the
     bucket; the rerun overwrites the same paths (idempotent).

The observed rows out and checksum are the persisted ones: the write
is the action that fills them, and Spark merges a task's observed
metrics once, from its successful attempt.

Pending buckets are in flight together, on up to
``defaultParallelism`` driver threads. Spark's FIFO scheduler still
serves earlier buckets first; later ones only fill cores a straggler
leaves idle. A bucket's ``wall_sec`` therefore overlaps other
buckets' and does not sum to the job's wall time. After the first
bucket error no further bucket starts; those in flight finish and
commit their markers, then that error is re-raised.

``run_bucketed_job`` is the generic harness — valid for any PER-DOC
transform (feature battery, HMM fits, E-step decode, text profiling,
scrubbing: output depends only on the bucket's own docs). It is NOT
valid for cross-doc stages (packing offsets, corpus dedup aggregates,
duplicate passages): their outputs depend on every bucket at once, so
they resume at job granularity instead.

On a real cluster the same layout works on any shared filesystem /
object store; markers are zero-byte objects.
"""
from __future__ import annotations

import hashlib
import json
import os
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import asdict
from typing import Callable

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.util import inheritable_thread_target

from .operators.framing import FramingParams
from .spectral import FeatureConfig, extract_features


def _params_hash(params: dict) -> str:
    blob = json.dumps(params, sort_keys=True, default=str)
    return hashlib.sha256(blob.encode()).hexdigest()[:16]


def _feature_checksum_col() -> Column:
    return F.crc32(F.concat_ws(
        ",", F.col("doc_id"), F.col("seg_idx"),
        F.round("energy", 6), F.round("centroid", 6)))


def _generic_checksum_col(df: DataFrame) -> Column:
    """Order-insensitive value checksum over every column: crc32 of
    the canonical JSON row. Deterministic within an engine version —
    lineage checksums compare run-to-run, not cross-engine."""
    return F.crc32(F.to_json(F.struct(*[F.col(c) for c in df.columns])))


def run_bucketed_job(spark: SparkSession, docs: DataFrame, out_dir: str,
                     transform: Callable[[DataFrame], DataFrame],
                     params: dict, n_buckets: int = 8,
                     job_id: str = "job",
                     checksum_col: Callable[[DataFrame], Column]
                     | None = None) -> dict:
    """Run (or resume) a bucketed per-doc job; see module docstring.

    Returns {buckets_done, buckets_skipped, rows_out, params_hash}.
    ``params`` must capture everything that changes the output — the
    marker is only honored when its recorded hash matches.
    ``n_buckets`` is folded into the hash here (not left to callers):
    it changes which docs land in which bucket file, so resuming under
    a different bucket count against old markers would duplicate every
    doc whose crc32 slice moved — the markers must invalidate.
    ``transform`` must stay lazy (run no action on its input): the
    write is the action that fulfils the bucket's Observations.
    """
    phash = _params_hash({**params, "n_buckets": n_buckets})
    checksum_col = checksum_col or _generic_checksum_col
    done_dir = os.path.join(out_dir, "_done")
    lineage_dir = os.path.join(out_dir, "_lineage")
    os.makedirs(done_dir, exist_ok=True)
    os.makedirs(lineage_dir, exist_ok=True)

    # crc32 needs string/binary input; the cast is a no-op for string
    # doc_ids (so existing marker layouts are unchanged) and makes
    # integer-id tables (e.g. raw documents.parquet) bucketable
    docs = docs.withColumn(
        "_bucket", F.pmod(F.crc32(F.col("doc_id").cast("string")),
                          F.lit(n_buckets)))
    summary = {"buckets_done": 0, "buckets_skipped": 0, "rows_out": 0,
               "params_hash": phash}

    pending = []
    for k in range(n_buckets):
        marker = os.path.join(done_dir, f"bucket={k}")
        if os.path.exists(marker):
            # skip ONLY if the marker was committed under the same
            # params — a marker from a different cfg means the parquet
            # on disk answers a different question; rerun it
            with open(marker) as fh:
                if fh.read().strip() == phash:
                    summary["buckets_skipped"] += 1
                    continue
        pending.append(k)

    def run_bucket(k: int) -> int:
        t0 = time.time()
        out_path = os.path.join(out_dir, job_id, f"bucket={k}")
        # fresh Observations per bucket run (each fulfils once): the
        # write job counts the rows it reads and sums what it writes,
        # so no count job and no read-back
        seen, wrote = Observation(), Observation()
        part = (docs.where(F.col("_bucket") == k).drop("_bucket")
                .observe(seen, F.count(F.lit(1)).alias("rows_in")))
        out = transform(part)
        out.observe(wrote, F.count(F.lit(1)).alias("rows_out"),
                    F.sum(checksum_col(out)).alias("checksum")) \
            .write.mode("overwrite").parquet(out_path)
        rows_out = int(wrote.get["rows_out"])
        record = {
            "job_id": job_id, "bucket": k, "params_hash": phash,
            "rows_in": int(seen.get["rows_in"]), "rows_out": rows_out,
            "checksum": float(wrote.get["checksum"] or 0.0),
            "wall_sec": round(time.time() - t0, 3),
            "out_path": out_path,
        }
        with open(os.path.join(lineage_dir, f"bucket_{k}.json"), "w") as fh:
            json.dump(record, fh)
        # marker LAST: the commit point for this bucket
        with open(os.path.join(done_dir, f"bucket={k}"), "w") as fh:
            fh.write(phash)
        return rows_out

    # the first failure stops buckets that have not started yet; those
    # in flight run to their marker, then that failure is re-raised
    failed: list[BaseException] = []

    def guarded(k: int) -> int | None:
        if failed:
            return None
        try:
            return run_bucket(k)
        except BaseException as exc:
            failed.append(exc)
            raise

    if pending:
        n_threads = min(len(pending), spark.sparkContext.defaultParallelism)
        with ThreadPoolExecutor(n_threads) as pool:
            # wrapped per bucket, in this thread: each bucket gets its
            # own copy of the caller's job group, description and tags
            futures = [pool.submit(inheritable_thread_target(spark)(guarded),
                                   k) for k in pending]
        if failed:
            raise failed[0]
        summary["buckets_done"] = len(futures)
        summary["rows_out"] = sum(fut.result() for fut in futures)
    # a PREVIOUS run with more buckets leaves bucket dirs beyond
    # n_buckets - 1 holding docs this run re-wrote into lower buckets;
    # reading out/<job_id> as one dataset would then duplicate them —
    # drop the stale slices and their markers
    import shutil
    job_dir = os.path.join(out_dir, job_id)
    if os.path.isdir(job_dir):
        for name in os.listdir(job_dir):
            if name.startswith("bucket="):
                try:
                    k = int(name.split("=", 1)[1])
                except ValueError:
                    continue
                if k >= n_buckets:
                    shutil.rmtree(os.path.join(job_dir, name),
                                  ignore_errors=True)
                    for stale in (
                            os.path.join(done_dir, f"bucket={k}"),
                            os.path.join(lineage_dir,
                                         f"bucket_{k}.json")):
                        if os.path.exists(stale):
                            os.remove(stale)
                    summary["stale_buckets_removed"] = (
                        summary.get("stale_buckets_removed", 0) + 1)
    return summary


def run_feature_job(spark: SparkSession, docs: DataFrame, out_dir: str,
                    cfg: FeatureConfig | None = None, n_buckets: int = 8,
                    split: bool = False, job_id: str = "features") -> dict:
    """Run (or resume) the bucketed feature-extraction job — the
    feature-battery instantiation of ``run_bucketed_job`` (same
    marker/lineage layout and params-hash semantics as before)."""
    cfg = cfg or FeatureConfig(framing=FramingParams(512, 256))
    params = {**asdict(cfg), "framing": asdict(cfg.framing)}
    return run_bucketed_job(
        spark, docs, out_dir,
        transform=lambda part: extract_features(part, cfg, split=split),
        params=params, n_buckets=n_buckets, job_id=job_id,
        checksum_col=lambda _df: _feature_checksum_col())


def read_lineage(out_dir: str) -> list[dict]:
    lineage_dir = os.path.join(out_dir, "_lineage")
    out = []
    if not os.path.isdir(lineage_dir):
        return out
    for name in sorted(os.listdir(lineage_dir)):
        with open(os.path.join(lineage_dir, name)) as fh:
            out.append(json.load(fh))
    return out
