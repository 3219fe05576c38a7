"""Structured-Streaming faces of the engine (SURVEY §2.10).

The reference is batch-only (whole arrays in memory); these operators
give the same semantics over unbounded inputs:

- ``stream_features``: docs arriving as files -> the identical fused
  feature battery per micro-batch via ``foreachBatch`` (docs are
  self-contained rows, so a micro-batch is just a smaller batch).
  Exactly-once: the output is partitioned by ``epoch=<batch id>`` and
  written with dynamic partition overwrite, so a replayed batch
  replaces its own rows.
- ``operators.sessionize.sessionize_streaming``: native
  ``session_window`` (same result as the batch gap-sessionizer, tested
  equal in tests/test_streaming.py).
- ``stream_peak_picker``: the reference's recursive peak smoother
  (onsets.py:227-262) as a STATEFUL streaming operator — the recursion
  ``g' = max(v, a*g + (1-a)*v)`` carries across micro-batches in
  ``applyInPandasWithState`` per doc.
- ``stream_minhash_neardup`` and ``stream_duplicate_passages``: corpus
  dedup against a persistent KEY STORE, one protocol for both. The
  store is parquet partitioned by ``(epoch, <key columns>)``; its
  layout parameters are pinned by ``store_meta_guard``. Per
  micro-batch the stream keys its rows, then

    1. reads the store pruned to the batch's own key partitions,
       skipping the current epoch (``pruned_store_read``): a match
       shares the key, hence the partition, so pruning loses none;
    2. drops identical re-deliveries by an anti-join on the stream's
       identity columns (an identical re-delivery has the same keys,
       so its prior rows are inside the pruned read) and unions the
       fresh rows onto the store rows (``_fresh_and_seen``);
    3. joins fresh against fresh + store (the stream's own match);
    4. writes its output and its fresh rows under ``epoch=<batch id>``
       with dynamic partition overwrite (``_write_epoch``), so a
       replayed batch replaces its own partitions.

All three file streams start through ``_start_docs_stream``: one
``availableNow`` run over the docs present at start, resumable from
its checkpoint.
"""
from __future__ import annotations

import json
from functools import reduce
from typing import Iterator, Sequence, Tuple

import numpy as np
import pandas as pd
from pyspark import StorageLevel
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .spectral import FeatureConfig, extract_features

DOCS_STREAM_SCHEMA = ("doc_id string, tokens array<int>, n_tok int, "
                      "source string")


def _start_docs_stream(spark, src_path: str, checkpoint: str, sink):
    """File-stream the docs at ``src_path`` through ``sink(batch_df,
    epoch_id)`` until the files present at start are drained. The
    checkpoint records committed epochs, so a restart resumes after
    the last one. Returns the StreamingQuery."""
    return (spark.readStream.schema(DOCS_STREAM_SCHEMA).parquet(src_path)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True).start())


def _write_epoch(df: DataFrame, path: str, epoch_id: int,
                 *partition_cols: str) -> None:
    """Write ``df`` under ``epoch=<epoch_id>/<partition_cols...>`` with
    dynamic partition overwrite: a replayed epoch replaces its own
    partitions and leaves every other epoch's."""
    (df.withColumn("epoch", F.lit(epoch_id)).write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("epoch", *partition_cols).parquet(path))


def stream_features(spark, src_path: str, out_path: str,
                    checkpoint: str, cfg: FeatureConfig | None = None):
    """File-stream of docs -> feature battery -> parquet sink.

    foreachBatch keeps the batch extractor (zero-shuffle plan); the
    output is partitioned by ``epoch`` (dynamic overwrite), so a batch
    replayed after a crash rewrites its rows instead of appending them
    twice. Returns the StreamingQuery.
    """
    cfg = cfg or FeatureConfig()

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        _write_epoch(extract_features(batch_df, cfg), out_path, epoch_id)

    return _start_docs_stream(spark, src_path, checkpoint, sink)


PEAK_STATE_SCHEMA = "g double, carry_rows int"
PEAK_OUT_SCHEMA = "doc_id string, seg_idx long, value double, is_peak boolean"


def _peak_fn(key: Tuple[str], pdfs: Iterator[pd.DataFrame],
             state: GroupState) -> Iterator[pd.DataFrame]:
    """Stateful scan: conditions 1-2 of the picker need a +-n window, so
    streaming mode applies the smoother condition (cond3) plus a local
    3-segment max; exactness vs the batch picker holds when segments of
    a doc arrive in one group-batch (tested)."""
    alpha, delta, half = 0.1, 0.1, 3
    g = state.get[0] if state.exists else 0.0
    for pdf in pdfs:
        pdf = pdf.sort_values("seg_idx").reset_index(drop=True)
        vals = pdf["value"].to_numpy()
        n = len(vals)
        is_peak = np.zeros(n, dtype=bool)
        for i in range(n):
            val = vals[i]
            lo, hi = max(0, i - half), min(n, i + half + 1)
            window = vals[lo:hi]
            cond1 = val >= window.max()
            cond2 = val >= window.mean() + delta
            foo = max(val, alpha * g + (1 - alpha) * val)
            cond3 = val >= foo
            g = foo
            is_peak[i] = cond1 and cond2 and cond3
        out = pdf[["doc_id", "seg_idx", "value"]].copy()
        out["is_peak"] = is_peak
        yield out
    state.update((float(g), 0))


def stream_peak_picker(odf_stream: DataFrame) -> DataFrame:
    """Apply the stateful peak scan to a streaming odf
    (doc_id, seg_idx, value)."""
    return (odf_stream.groupBy("doc_id")
            .applyInPandasWithState(
                _peak_fn, PEAK_OUT_SCHEMA, PEAK_STATE_SCHEMA,
                "append", GroupStateTimeout.NoTimeout))


def stream_windowed_agg(events: DataFrame, ts_col: str = "ts",
                        value_col: str = "value",
                        window_dur: str = "5 minutes",
                        slide: str | None = None,
                        watermark: str = "10 minutes",
                        by: str | None = None) -> DataFrame:
    """Event-time windowed aggregation with a watermark for late data
    (SURVEY §2.10: the streaming face of the batch tumbling/sliding
    count-windows). Late rows beyond ``watermark`` are dropped and the
    window state is evicted — bounded state on unbounded input.

    Works on a streaming OR batch ``events`` frame (batch ignores the
    watermark, same results — tested equal to the batch tumbling agg).
    """
    ev = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    if events.isStreaming:
        ev = ev.withWatermark(ts_col, watermark)
    win = F.window(ts_col, window_dur, slide or window_dur)
    keys = [win] + ([F.col(by)] if by else [])
    return (ev.groupBy(*keys)
            .agg(F.count("*").alias("n"),
                 F.sum(value_col).alias("val_sum"),
                 F.avg(value_col).alias("val_avg"))
            .select(F.col("window.start").alias("win_start"),
                    F.col("window.end").alias("win_end"),
                    *([by] if by else []), "n", "val_sum", "val_avg"))


def stream_exact_dedup(docs: DataFrame, content_col: str = "text",
                       ts_col: str = "ts",
                       watermark: str = "10 minutes") -> DataFrame:
    """Streaming exact dedup over an unbounded doc stream: keep the
    first arrival of each distinct content value within the watermark
    horizon.

    Scale shape (the streaming face of ``ml.dedup.exact_dedup``): the
    dedup key is ``sha2(content, 256)`` — 32 bytes of state per
    distinct doc instead of the raw text — and
    ``dropDuplicatesWithinWatermark`` evicts key state once the
    watermark passes, so state is bounded by the arrival-rate x
    horizon product, never by corpus size. (All-time exact dedup over
    an unbounded stream is unbounded state by definition; the batch
    operator covers that case.)

    Works on a streaming OR batch frame; batch falls back to plain
    dropDuplicates on the hash (same survivors modulo arrival order,
    which batch has no notion of).
    """
    keyed = docs.withColumn(
        "__content_h",
        F.unhex(F.sha2(F.col(content_col).cast("string"), 256)))
    if docs.isStreaming:
        out = (keyed.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
               .withWatermark(ts_col, watermark)
               .dropDuplicatesWithinWatermark(["__content_h"]))
    else:
        out = keyed.dropDuplicates(["__content_h"])
    return out.drop("__content_h")


def store_meta_guard(spark, store_path: str, params: dict) -> None:
    """Pin the store-layout parameters that the partition-pruning
    invariant depends on (``n_prefixes`` above all: a store written
    under one modulus is UNREADABLE-correctly under another — the
    pruned read would silently miss matching partitions). First use
    writes ``<store>/_store_meta.json``; every later open validates
    and raises on mismatch instead of silently missing duplicates.

    The meta file is resolved through the Hadoop FileSystem API, so the
    guard works on every URI the store itself uses (s3a://, hdfs://,
    file:, and plain local paths)."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(store_path, "_store_meta.json")
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(path):
        out = fs.create(path, False)
        try:
            out.write(bytearray(json.dumps(params).encode("utf-8")))
        finally:
            out.close()
        return
    stream = fs.open(path)
    try:
        # JDK-only read (java.util.Scanner \\A slurp): the obvious
        # commons-io IOUtils.toByteArray is an UNSHADED third-party
        # class that relocated/shaded Spark classpaths may not expose —
        # a guard that crashes on open would break every stream restart
        scanner = jvm.java.util.Scanner(stream, "UTF-8") \
            .useDelimiter("\\A")
        stored = json.loads(scanner.next() if scanner.hasNext() else "{}")
    finally:
        stream.close()
    if stored != params:
        raise ValueError(
            f"store at {store_path} was written with {stored}; "
            f"reopening with {params} would break partition "
            f"pruning (silently missed duplicates) — use the "
            f"original parameters or a fresh store path")


def pruned_store_read(spark, store_path: str, keys: Sequence[Row],
                      epoch_id: int) -> DataFrame | None:
    """Partition-pruned read of a key store: only the partitions named
    by ``keys`` (the batch's distinct partition-column rows, e.g.
    ``Row(band=2, pfx=5)`` or ``Row(pfx=5)``) are scanned, and the
    current epoch's own partial attempt is excluded (a replayed batch
    must not see itself: it would double every doc). ``keys`` is
    bounded by the store's partition count, so the filter is a static
    partition predicate — per-batch scan bytes are bounded by the
    batch's matching partitions, never by store size. Returns None
    before the store exists."""
    try:
        store = spark.read.parquet(store_path)
    except AnalysisException:
        # first batch only (path not created yet); any OTHER read
        # failure must surface, not silently skip the corpus dedup
        return None
    match = F.lit(False)
    for key in keys:
        match = match | reduce(
            lambda a, b: a & b,
            [F.col(col) == val for col, val in key.asDict().items()])
    return store.where(match & (F.col("epoch") != epoch_id))


def _fresh_and_seen(spark, store_path: str, batch: DataFrame,
                    identity: list[str], partition_cols: list[str],
                    epoch_id: int) -> tuple[DataFrame, DataFrame]:
    """``(fresh, seen)`` for one micro-batch of keyed rows: ``fresh`` is
    ``batch`` minus identical re-deliveries (a left anti-join on the
    ``identity`` columns against the pruned store), ``seen`` is the
    pruned store plus ``fresh`` — everything the batch is matched
    against. The anti-join keys on content identity, never on doc_id
    alone: a doc_id re-delivered with MODIFIED content is a new
    version and stays fresh, whatever the batch composition."""
    # bounded driver-side collect: <= the store's partition count
    keys = batch.select(*partition_cols).distinct().collect()
    store = pruned_store_read(spark, store_path, keys, epoch_id)
    if store is None:
        return batch, batch
    store = store.select(*batch.columns)
    fresh = batch.join(store.select(*identity), identity, "left_anti")
    return fresh, store.unionByName(fresh)


def stream_minhash_neardup(spark, src_path: str, store_path: str,
                           pairs_path: str, checkpoint: str,
                           n_hashes: int = 16, n_bands: int = 4,
                           shingle_k: int = 3, threshold: float = 0.7,
                           seed: int = 7, n_prefixes: int = 16):
    """Streaming near-dup detection: every arriving doc is checked
    against ALL previously seen docs via MinHash-LSH, and its banded
    signature joins the store.

    The streaming face of ``ml.dedup.minhash_dedup_pairs`` for the
    crawl-ingestion shape: an unbounded doc stream deduped against an
    ever-growing corpus. Runs the key-store protocol of this module
    with:

    - keyed rows: signatures for the batch (batched-numpy kernel, one
      scan), banded once into (band, band_sig, pfx) rows where
      ``pfx = pmod(xxhash64(band_sig), n_prefixes)``; band keys are
      computed once at append time, never recomputed over history;
    - store: PRE-BANDED, partitioned by ``(epoch, band, pfx)``, so a
      batch reads only the partitions of its own buckets — per-batch
      scan cost scales with the batch's bucket collisions, NOT with
      corpus age;
    - identity: (doc_id, signature). A doc_id re-delivered with
      DIFFERENT content has a different signature, so it is kept as a
      NEW version (its rows append; pairs against other docs are
      emitted; pairs between its own versions are excluded by doc_id
      inequality);
    - match: candidates from the banded equi-join (batch-vs-store and
      batch-vs-batch) are scored by SIGNATURE-estimated Jaccard — the
      full signatures ride the banded rows, so scoring needs no second
      corpus join — with the batched-numpy estimator
      (``signature_est_jaccard_udf``); pairs >= ``threshold`` land in
      ``pairs_path``.

    State = the banded signature store only: n_bands x (band key +
    full signature) per doc (~0.5 KB at 16 hashes / 4 bands), never
    the corpus text. The estimator (not exact Jaccard) is deliberate:
    exact verification would need the historical token arrays —
    corpus-scale reads per batch; consumers holding the text re-verify
    emitted pairs exactly (``ml.dedup.jaccard_col``). Long-lived
    stores accumulate epoch directories; compact periodically
    (coalesce epochs, keep (band, pfx) levels) exactly as any
    streaming parquet sink.
    """
    from .ml.dedup import (_band_sigs, minhash_docs,
                           signature_est_jaccard_udf)

    store_meta_guard(spark, store_path, {
        "kind": "minhash", "n_hashes": n_hashes, "n_bands": n_bands,
        "shingle_k": shingle_k, "seed": seed, "n_prefixes": n_prefixes})

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df = batch_df.where(F.size("tokens") >= shingle_k)
        sigs_new = minhash_docs(batch_df, n_hashes, shingle_k, seed)
        banded_new = (
            _band_sigs(sigs_new, n_bands, "doc_id",
                       keep_cols=("signature",))
            .withColumn("pfx", F.pmod(F.xxhash64("band_sig"),
                                      F.lit(n_prefixes)).cast("int"))
            .persist(StorageLevel.MEMORY_AND_DISK))
        try:
            fresh, seen = _fresh_and_seen(
                spark, store_path, banded_new, ["doc_id", "signature"],
                ["band", "pfx"], epoch_id)
            a, b = fresh.alias("a"), seen.alias("b")
            swap = F.col("a.doc_id") < F.col("b.doc_id")
            pairs = (
                a.join(b, (F.col("a.band") == F.col("b.band"))
                       & (F.col("a.band_sig") == F.col("b.band_sig"))
                       & (F.col("a.doc_id") != F.col("b.doc_id")))
                .select(
                    F.least("a.doc_id", "b.doc_id").alias("id_a"),
                    F.greatest("a.doc_id", "b.doc_id").alias("id_b"),
                    F.when(swap, F.col("a.signature"))
                    .otherwise(F.col("b.signature")).alias("sig_a"),
                    F.when(swap, F.col("b.signature"))
                    .otherwise(F.col("a.signature")).alias("sig_b")))
            est = signature_est_jaccard_udf()
            # Score EVERY candidate row, then keep the max estimate per
            # pair. A dropDuplicates before scoring would keep an
            # arbitrary signature version when the store holds several
            # versions of a re-delivered doc (both stay by design), so
            # whether a true near-dup pair was emitted could flip
            # between runs. max() over all versions is deterministic
            # regardless of partition order and matches "near-dup under
            # ANY stored version" semantics.
            scored = (pairs
                      .select("id_a", "id_b",
                              F.round(est("sig_a", "sig_b"), 6)
                              .alias("est"))
                      .groupBy("id_a", "id_b")
                      .agg(F.max("est").alias("est_jaccard"))
                      .where(F.col("est_jaccard") >= threshold))
            _write_epoch(scored, pairs_path, epoch_id)
            _write_epoch(fresh, store_path, epoch_id, "band", "pfx")
        finally:
            banded_new.unpersist()

    return _start_docs_stream(spark, src_path, checkpoint, sink)


def stream_duplicate_passages(spark, src_path: str, store_path: str,
                              spans_path: str, checkpoint: str,
                              k: int = 16, n_prefixes: int = 64):
    """Streaming exact duplicate-passage detection: every arriving
    doc's length-``k`` token windows are checked against ALL
    previously seen windows, and its own windows join the store — the
    streaming face of ``ml.dedup.duplicate_passage_spans`` for the
    crawl-ingestion shape (boilerplate/license/quote spans recurring
    across an unbounded doc stream). Runs the key-store protocol of
    this module with:

    - keyed rows: (doc_id, pos, pkey) windows for the batch (xxhash64
      content keys — the scale path), prefixed with
      ``pfx = pmod(xxhash64(pkey), n_prefixes)``;
    - store: partitioned by ``(epoch, pfx)``. Pruning pays off on
      trickle batches; a batch touching every prefix degrades to a
      full store read whose JOIN is still pkey-bounded;
    - identity: (doc_id, pos, pkey);
    - match: every batch window whose content appears in ANOTHER doc
      (stored or same-batch) emits BOTH sides as span records
      (doc_id, pos, pkey) — so the cumulative DISTINCT span set
      equals the batch operator's (doc_id, pos) set at min_docs=2; a
      stored window re-emitted across epochs dedups at read time
      (consumers treat spans as a set).

    State = the window-key store: one (doc_id, pos, 8-B key) row per
    token window — O(tokens) rows, the inherent state of EXACT
    substring dedup (the text itself never lands in the store).
    Sketch-based near-dup (the minhash store) is the cheaper state
    when approximate matching suffices.
    """
    from .ml.dedup import _doc_passages

    store_meta_guard(spark, store_path, {"kind": "passages", "k": k,
                                         "n_prefixes": n_prefixes})

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        win_new = (
            _doc_passages(batch_df.where(F.size("tokens") >= k), k, "hash")
            .withColumn("pfx", F.pmod(F.xxhash64("pkey"),
                                      F.lit(n_prefixes)).cast("int"))
            .persist(StorageLevel.MEMORY_AND_DISK))
        try:
            fresh, seen = _fresh_and_seen(
                spark, store_path, win_new, ["doc_id", "pos", "pkey"],
                ["pfx"], epoch_id)
            m = (fresh.alias("a")
                 .join(seen.alias("b"),
                       (F.col("a.pkey") == F.col("b.pkey"))
                       & (F.col("a.doc_id") != F.col("b.doc_id"))))
            hits = (m.select("a.doc_id", "a.pos", "a.pkey")
                    .unionByName(m.select("b.doc_id", "b.pos", "b.pkey"))
                    .distinct())
            _write_epoch(hits, spans_path, epoch_id)
            _write_epoch(fresh, store_path, epoch_id, "pfx")
        finally:
            win_new.unpersist()

    return _start_docs_stream(spark, src_path, checkpoint, sink)
