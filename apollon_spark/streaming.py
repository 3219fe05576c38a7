"""Structured-Streaming faces of the engine (SURVEY §2.10).

The reference is batch-only (whole arrays in memory); these operators
give the same semantics over unbounded inputs:

- ``stream_features``: docs arriving as files/Kafka -> the identical
  fused feature battery per micro-batch via ``foreachBatch`` (docs are
  self-contained rows, so a micro-batch is just a smaller batch —
  exactly-once via the sink's epoch id).
- ``stream_sessionize``: native ``session_window`` (same result as the
  batch gap-sessionizer, tested equal in tests/test_streaming.py).
- ``stream_peak_picker``: the reference's recursive peak smoother
  (onsets.py:227-262) as a STATEFUL streaming operator — the recursion
  ``g' = max(v, a*g + (1-a)*v)`` carries across micro-batches in
  ``applyInPandasWithState`` per doc.
"""
from __future__ import annotations

from typing import Iterator, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .spectral import FeatureConfig, extract_features

DOCS_STREAM_SCHEMA = ("doc_id string, tokens array<int>, n_tok int, "
                      "source string")


def stream_features(spark, src_path: str, out_path: str,
                    checkpoint: str, cfg: FeatureConfig | None = None,
                    trigger_once: bool = True):
    """File-stream of docs -> feature battery -> parquet sink.

    foreachBatch keeps the batch extractor (zero-shuffle plan) and the
    checkpoint dir gives exactly-once file semantics / resume.
    Returns the StreamingQuery.
    """
    cfg = cfg or FeatureConfig()
    stream = (spark.readStream.schema(DOCS_STREAM_SCHEMA)
              .parquet(src_path))

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        feats = extract_features(batch_df, cfg)
        feats.write.mode("append").parquet(out_path)

    writer = (stream.writeStream.foreachBatch(sink)
              .option("checkpointLocation", checkpoint))
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


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
    from pyspark.sql import functions as F
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
    from pyspark.sql import functions as F
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


def _validate_store_meta(store_path: str, stored: dict,
                         params: dict) -> None:
    if stored != params:
        raise ValueError(
            f"store at {store_path} was written with {stored}; "
            f"reopening with {params} would break partition "
            f"pruning (silently missed duplicates) — use the "
            f"original parameters or a fresh store path")


def store_meta_guard(store_path: str, params: dict,
                     spark=None) -> None:
    """Pin the store-layout parameters that the partition-pruning
    invariant depends on (``n_prefixes`` above all: a store written
    under one modulus is UNREADABLE-correctly under another — the
    pruned read would silently miss matching partitions). First use
    writes ``<store>/_store_meta.json``; every later open validates
    and raises on mismatch instead of silently missing duplicates.

    With ``spark``, the meta file is resolved through the Hadoop
    FileSystem API, so the guard works on every URI the store itself
    uses (s3a://, hdfs://, file:). The bare-os.path fallback is
    LOCAL-FILESYSTEM-ONLY: on a shared-filesystem URI os.path.exists
    is always false, the guard would silently rewrite the meta file
    each run and never detect a mismatch — exactly the
    missed-duplicates mode it exists to prevent — so a scheme'd path
    without ``spark`` raises instead."""
    import json
    import os
    if spark is not None:
        jvm = spark._jvm
        conf = spark._jsc.hadoopConfiguration()
        path = jvm.org.apache.hadoop.fs.Path(store_path,
                                             "_store_meta.json")
        fs = path.getFileSystem(conf)
        if fs.exists(path):
            stream = fs.open(path)
            try:
                # JDK-only read (java.util.Scanner \\A slurp): the
                # obvious commons-io IOUtils.toByteArray is an
                # UNSHADED third-party class that relocated/shaded
                # Spark classpaths may not expose — a guard that
                # crashes on open would break every stream restart
                scanner = jvm.java.util.Scanner(stream, "UTF-8") \
                    .useDelimiter("\\A")
                raw = scanner.next() if scanner.hasNext() else "{}"
            finally:
                stream.close()
            _validate_store_meta(store_path, json.loads(raw), params)
            return
        out = fs.create(path, False)
        try:
            out.write(bytearray(json.dumps(params).encode("utf-8")))
        finally:
            out.close()
        return
    if "://" in store_path:
        raise ValueError(
            f"store_meta_guard needs a SparkSession to validate a "
            f"shared-filesystem store ({store_path}); the os.path "
            f"fallback cannot see it and would silently skip the "
            f"n_prefixes check")
    meta_path = os.path.join(store_path, "_store_meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as fh:
            _validate_store_meta(store_path, json.load(fh), params)
        return
    os.makedirs(store_path, exist_ok=True)
    with open(meta_path, "w") as fh:
        json.dump(params, fh)


def banded_store_read(spark, store_path: str, keys,
                      epoch_id: int) -> DataFrame | None:
    """Partition-pruned read of the pre-banded signature store: only
    the ``(band, pfx)`` partitions in ``keys`` are scanned (and the
    current epoch's own partial attempt is excluded). ``keys`` is a
    bounded list (<= n_bands * n_prefixes entries) collected from the
    batch, so the filter is a static partition predicate — per-batch
    scan bytes are bounded by the batch's matching buckets, never by
    store size. Returns None when the store doesn't exist yet."""
    from pyspark.errors import AnalysisException

    from pyspark.sql import functions as F
    try:
        store = spark.read.parquet(store_path)
    except AnalysisException:
        # first batch only (path not created yet); any OTHER read
        # failure must surface, not silently skip the corpus dedup
        return None
    bucket_filter = F.lit(False)
    by_band: dict[int, list[int]] = {}
    for band, pfx in keys:
        by_band.setdefault(int(band), []).append(int(pfx))
    for band, pfs in sorted(by_band.items()):
        bucket_filter = bucket_filter | (
            (F.col("band") == band) & F.col("pfx").isin(pfs))
    # a replayed batch must not see its own prior partial attempt (it
    # would double every doc)
    return store.where(bucket_filter & (F.col("epoch") != epoch_id))


def stream_minhash_neardup(spark, src_path: str, store_path: str,
                           pairs_path: str, checkpoint: str,
                           n_hashes: int = 16, n_bands: int = 4,
                           shingle_k: int = 3, threshold: float = 0.7,
                           seed: int = 7, n_prefixes: int = 16,
                           trigger_once: bool = True):
    """Streaming near-dup detection: every arriving doc is checked
    against ALL previously seen docs via MinHash-LSH, and its banded
    signature joins the store.

    The streaming face of ``ml.dedup.minhash_dedup_pairs`` for the
    crawl-ingestion shape: an unbounded doc stream deduped against an
    ever-growing corpus. Per micro-batch (``foreachBatch``):

      1. signatures for the batch (batched-numpy kernel, one scan),
         banded once into (band, band_sig, pfx) keys where
         ``pfx = pmod(xxhash64(band_sig), n_prefixes)``;
      2. the store is read PRE-BANDED and partitioned by
         ``(epoch, band, pfx)``, so the batch joins only against the
         partitions matching its own buckets (static partition
         pruning; see ``banded_store_read``) — per-batch scan cost
         scales with the batch's bucket collisions, NOT with corpus
         age. Band keys are computed once at append time, never
         recomputed over history;
      3. identical re-deliveries are dropped: the anti-join matches on
         (doc_id, signature), and an identical re-delivery hits the
         same buckets, so its prior rows are guaranteed inside the
         pruned partitions — deterministic regardless of batch
         composition. A doc_id re-delivered with DIFFERENT content has
         a different signature, so it is kept as a NEW version (its
         rows append; pairs against other docs are emitted; pairs
         between its own versions are excluded by doc_id inequality);
      4. candidates from the banded equi-join (batch-vs-store and
         batch-vs-batch) are scored by SIGNATURE-estimated Jaccard —
         the full signatures ride the banded rows, so scoring needs no
         second corpus join — with the batched-numpy estimator
         (``signature_est_jaccard_udf``); pairs >= ``threshold`` land
         in ``pairs_path``;
      5. the batch's banded rows are appended to ``store_path``.

    State = the banded signature store only: n_bands x (band key +
    full signature) per doc (~0.5 KB at 16 hashes / 4 bands), never
    the corpus text. The estimator (not exact Jaccard) is deliberate:
    exact verification would need the historical token arrays —
    corpus-scale reads per batch; consumers holding the text re-verify
    emitted pairs exactly (``ml.dedup.jaccard_col``). Exactly-once
    across restarts: outputs are partitioned by ``epoch=<batch id>``
    (first partition level) and written with dynamic partition
    overwrite, so a replayed micro-batch REPLACES its own partitions.
    Long-lived stores accumulate epoch directories; compact
    periodically (coalesce epochs, keep (band, pfx) levels) exactly as
    any streaming parquet sink.
    """
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from .ml.dedup import (_band_sigs, minhash_docs,
                           signature_est_jaccard_udf)

    store_meta_guard(store_path, {
        "kind": "minhash", "n_hashes": n_hashes, "n_bands": n_bands,
        "shingle_k": shingle_k, "seed": seed, "n_prefixes": n_prefixes},
        spark=spark)
    stream = (spark.readStream.schema(DOCS_STREAM_SCHEMA)
              .parquet(src_path))

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
            # bounded driver-side collect: <= n_bands * n_prefixes rows
            keys = [(r["band"], r["pfx"]) for r in
                    banded_new.select("band", "pfx").distinct().collect()]
            store = banded_store_read(spark, store_path, keys, epoch_id)
            if store is not None:
                store = store.select("doc_id", "signature", "band",
                                     "band_sig", "pfx")
                # (doc_id, signature) anti-join, NOT doc_id alone: a
                # doc_id-only match would silently drop a MODIFIED
                # re-delivery whenever any batch doc's buckets overlap
                # the old version's partitions — batch-composition-
                # dependent semantics. Signature equality only ever
                # matches identical content, whose own buckets are
                # always inside the pruned read: deterministic.
                seen = store.select("doc_id", "signature").distinct()
                banded_new_f = banded_new.join(
                    seen, ["doc_id", "signature"], "left_anti")
                all_banded = store.unionByName(banded_new_f)
            else:
                banded_new_f = banded_new
                all_banded = banded_new
            a, b = banded_new_f.alias("a"), all_banded.alias("b")
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
            # epoch-partitioned dynamic overwrite: replaying this batch
            # after a crash replaces its own partitions (idempotent)
            (scored.withColumn("epoch", F.lit(epoch_id))
             .write.mode("overwrite")
             .option("partitionOverwriteMode", "dynamic")
             .partitionBy("epoch").parquet(pairs_path))
            (banded_new_f.withColumn("epoch", F.lit(epoch_id))
             .write.mode("overwrite")
             .option("partitionOverwriteMode", "dynamic")
             .partitionBy("epoch", "band", "pfx").parquet(store_path))
        finally:
            banded_new.unpersist()

    writer = (stream.writeStream.foreachBatch(sink)
              .option("checkpointLocation", checkpoint))
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def prefix_store_read(spark, store_path: str, prefixes, epoch_id: int):
    """Partition-pruned read of the prefix-partitioned passage store:
    only the ``pfx`` partitions present in the batch are scanned (and
    the current epoch's own partial attempt is excluded). Same static-
    pruning contract as ``banded_store_read``. Returns None before the
    store exists."""
    from pyspark.errors import AnalysisException

    from pyspark.sql import functions as F
    try:
        store = spark.read.parquet(store_path)
    except AnalysisException:
        return None
    return store.where(F.col("pfx").isin([int(p) for p in prefixes])
                       & (F.col("epoch") != epoch_id))


def stream_duplicate_passages(spark, src_path: str, store_path: str,
                              spans_path: str, checkpoint: str,
                              k: int = 16, n_prefixes: int = 64,
                              trigger_once: bool = True):
    """Streaming exact duplicate-passage detection: every arriving
    doc's length-``k`` token windows are checked against ALL
    previously seen windows, and its own windows join the store — the
    streaming face of ``ml.dedup.duplicate_passage_spans`` for the
    crawl-ingestion shape (boilerplate/license/quote spans recurring
    across an unbounded doc stream).

    Per micro-batch (``foreachBatch``):

      1. (doc_id, pos, pkey) windows for the batch (xxhash64 content
         keys — the scale path), prefixed with
         ``pfx = pmod(xxhash64(pkey), n_prefixes)``;
      2. the store is read partition-pruned to the batch's own ``pfx``
         set (``prefix_store_read``) — a matching stored window shares
         the pkey, hence the prefix, so pruning never loses a match.
         Pruning pays off on trickle batches; a batch touching every
         prefix degrades to a full store read whose JOIN is still
         pkey-bounded;
      3. identical re-deliveries drop via an anti-join on
         (doc_id, pos, pkey) — deterministic for the same reason as
         the minhash store's signature anti-join (an identical
         re-delivery's rows are guaranteed inside its own pruned
         partitions);
      4. every batch window whose content appears in ANOTHER doc
         (stored or same-batch) emits BOTH sides as span records
         (doc_id, pos, pkey) — so the cumulative DISTINCT span set
         equals the batch operator's (doc_id, pos) set at min_docs=2;
         a stored window re-emitted across epochs dedups at read time
         (consumers treat spans as a set);
      5. the batch's windows append to the store, partitioned by
         (epoch, pfx); epoch-partitioned dynamic overwrite makes a
         replayed batch REPLACE its own partitions (idempotent).

    State = the window-key store: one (doc_id, pos, 8-B key) row per
    token window — O(tokens) rows, the inherent state of EXACT
    substring dedup (the text itself never lands in the store).
    Sketch-based near-dup (the minhash store) is the cheaper state
    when approximate matching suffices.
    """
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    from .ml.dedup import _doc_passages

    store_meta_guard(store_path, {"kind": "passages", "k": k,
                                  "n_prefixes": n_prefixes},
                     spark=spark)
    stream = (spark.readStream.schema(DOCS_STREAM_SCHEMA)
              .parquet(src_path))

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        win_new = (
            _doc_passages(batch_df.where(F.size("tokens") >= k), k, "hash")
            .withColumn("pfx", F.pmod(F.xxhash64("pkey"),
                                      F.lit(n_prefixes)).cast("int"))
            .persist(StorageLevel.MEMORY_AND_DISK))
        try:
            # bounded driver-side collect: <= n_prefixes values
            prefixes = [r["pfx"] for r in
                        win_new.select("pfx").distinct().collect()]
            store = prefix_store_read(spark, store_path, prefixes,
                                      epoch_id)
            if store is not None:
                store = store.select("doc_id", "pos", "pkey", "pfx")
                win_new_f = win_new.join(
                    store.select("doc_id", "pos", "pkey"),
                    ["doc_id", "pos", "pkey"], "left_anti")
                all_win = store.unionByName(win_new_f)
            else:
                win_new_f = win_new
                all_win = win_new
            m = (win_new_f.alias("a")
                 .join(all_win.alias("b"),
                       (F.col("a.pkey") == F.col("b.pkey"))
                       & (F.col("a.doc_id") != F.col("b.doc_id"))))
            hits = (m.select(F.col("a.doc_id").alias("doc_id"),
                             F.col("a.pos").alias("pos"),
                             F.col("a.pkey").alias("pkey"))
                    .unionByName(
                        m.select(F.col("b.doc_id").alias("doc_id"),
                                 F.col("b.pos").alias("pos"),
                                 F.col("b.pkey").alias("pkey")))
                    .distinct())
            (hits.withColumn("epoch", F.lit(epoch_id))
             .write.mode("overwrite")
             .option("partitionOverwriteMode", "dynamic")
             .partitionBy("epoch").parquet(spans_path))
            (win_new_f.withColumn("epoch", F.lit(epoch_id))
             .write.mode("overwrite")
             .option("partitionOverwriteMode", "dynamic")
             .partitionBy("epoch", "pfx").parquet(store_path))
        finally:
            win_new.unpersist()

    writer = (stream.writeStream.foreachBatch(sink)
              .option("checkpointLocation", checkpoint))
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
