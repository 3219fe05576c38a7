"""spark-submit job driver mirroring the reference CLI surface
(scripts/apollon:17,34-60: ``features | onsets | hmm | som | export |
position``; NB the reference's own CLI imports a module absent from its
package — this engine's stages actually run).

Usage:
  spark-submit --py-files apollon_spark.zip -m apollon_spark.cli \
      --stage features --input /data/docs --output /data/out \
      [--n-perseg 512 --n-overlap 256 --split] \
      [--buckets 16]   # checkpointed resume granularity
"""
from __future__ import annotations

import argparse
import json
import sys
from functools import partial

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from . import storage
from .session import get_spark


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="apollon-spark")
    ap.add_argument("--stage", required=True,
                    choices=["features", "onsets", "hmm", "som",
                             "position", "export", "nonlinear",
                             "dedup", "neardup", "semdedup", "filter",
                             "lmscore", "ann", "textstats",
                             "scrub", "ingest", "stream-neardup",
                             "pack", "sample", "contaminate", "cluster",
                             "passages", "stream-passages"])
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--n-perseg", type=int, default=512)
    ap.add_argument("--n-overlap", type=int, default=256)
    ap.add_argument("--window", default="hamming")
    ap.add_argument("--fps", type=int, default=9000)
    ap.add_argument("--causal", action="store_true")
    ap.add_argument("--features", default=None,
                    help="comma-separated battery subset (reference CLI "
                         "feature-group flags, scripts/apollon:34-49); "
                         "default = full battery")
    ap.add_argument("--split", action="store_true",
                    help="halo-split skewed long docs")
    ap.add_argument("--buckets", type=int, default=16)
    ap.add_argument("--m-states", type=int, default=3)
    ap.add_argument("--som-rows", type=int, default=10)
    ap.add_argument("--som-cols", type=int, default=10)
    ap.add_argument("--som-epochs", type=int, default=10)
    ap.add_argument("--export-format", choices=["csv", "json"],
                    default="json")
    # training-data pipeline stages
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--id-col", default=None,
                    help="id column (default: doc_id; vec_id for "
                         "--stage ann)")
    ap.add_argument("--vec-col", default="embedding",
                    help="ann: embedding/vector column")
    ap.add_argument("--n-hashes", type=int, default=16)
    ap.add_argument("--n-bands", type=int, default=4)
    ap.add_argument("--shingle-k", type=int, default=3)
    ap.add_argument("--threshold", type=float, default=0.7)
    ap.add_argument("--topk", type=int, default=10)
    ap.add_argument("--n-queries", type=int, default=8,
                    help="ann: use the first N vectors as queries")
    ap.add_argument("--budget-tokens", type=int, default=0,
                    help="sample: with --mix-weights, treat the "
                         "weights as mixture RATIOS and scale them to "
                         "hit this total token budget")
    ap.add_argument("--n-clusters", type=int, default=64,
                    help="semdedup: k-means cluster count (bounds the "
                         "within-cluster quadratic; raise with corpus "
                         "size)")
    ap.add_argument("--ingest-buckets", type=int, default=0,
                    help="ingest: bucket count for the co-located "
                         "docs layout (0 = plain parquet)")
    ap.add_argument("--table-name", default="docs",
                    help="ingest: catalog table name when bucketing")
    ap.add_argument("--checkpoint", default=None,
                    help="stream-neardup: checkpoint dir")
    ap.add_argument("--store", default=None,
                    help="stream-neardup: signature store dir")
    ap.add_argument("--ctx-len", type=int, default=2048,
                    help="pack: training-sequence context length")
    ap.add_argument("--shuffle-salt", default=None,
                    help="pack: pack in a deterministic md5-shuffled "
                         "doc order under this salt (default: ingest "
                         "doc_id order)")
    ap.add_argument("--quota", type=int, default=0,
                    help="sample: exact per-stratum quota (0 = use "
                         "--rate-hex instead)")
    ap.add_argument("--rate-hex", default="4000",
                    help="sample: md5 4-hex-prefix threshold "
                         "(rate = int(hex,16)/65536)")
    ap.add_argument("--stratify-by", default="source",
                    help="sample: stratum column for --quota mode")
    ap.add_argument("--mix-weights", default=None,
                    help="sample: source-mixture resampling weights, "
                         "e.g. 'web:2.0,books:0.5' (docs repeat "
                         "floor(w) times + a deterministic frac(w) "
                         "share once more; unlisted sources drop)")
    ap.add_argument("--benchmark", default=None,
                    help="contaminate/lmscore: path of the benchmark/"
                         "reference docs table (default: md5-prefix "
                         "split of --input)")
    ap.add_argument("--pairs", default=None,
                    help="cluster: path of a pre-mined (id_a, id_b) "
                         "pair table (default: mine MinHash-LSH pairs "
                         "from --input)")
    ap.add_argument("--resume-buckets", type=int, default=0,
                    help="hmm/textstats/scrub: run as a bucketed "
                         "resumable job (per-partition lineage + "
                         "idempotent markers, like the features "
                         "stage); 0 = plain single write. Output "
                         "lands under <output>/<stage>/bucket=K")
    ap.add_argument("--passage-k", type=int, default=16,
                    help="passages: token-window length for exact "
                         "duplicate-passage detection")
    ap.add_argument("--min-docs", type=int, default=2,
                    help="passages: min distinct docs sharing a window "
                         "for it to count as duplicated")
    ap.add_argument("--passage-key", choices=["hash", "md5"],
                    default="hash",
                    help="passages: window key. 'hash' = fast 64-bit "
                         "rolling hash (collisions can cut clean "
                         "tokens at trillion-token scale); 'md5' = "
                         "exact content keys — use for destructive "
                         "--emit cut runs at scale")
    ap.add_argument("--cut-rounds", type=int, default=1,
                    help="passages --emit cut: max excision rounds. 1 "
                         "= single pass (seam-created duplicates may "
                         "remain, reported as residual_span_starts); "
                         ">1 = iterate excise_to_fixpoint to "
                         "convergence, raising if still not converged")
    ap.add_argument("--emit", choices=["spans", "stats", "cut"],
                    default="spans",
                    help="passages: 'spans' = duplicated window starts "
                         "per doc; 'stats' = per-doc duplication "
                         "coverage fraction (merged spans, the "
                         "curation filter signal); 'cut' = excised "
                         "corpus (every duplicated span removed except "
                         "one canonical occurrence — Lee et al. "
                         "keep-one semantics)")
    ap.add_argument("--input-format", choices=["table", "wav"],
                    default="table",
                    help="'table' = parquet/Iceberg docs table; 'wav' = "
                         "a directory/glob of .wav files decoded "
                         "distributed (sources/wav.py) — the reference "
                         "CLI's audio-file surface")
    args = ap.parse_args(argv)
    spark = get_spark(f"apollon-{args.stage}")
    pinned = set(spark.sparkContext._jsc.getPersistentRDDs())
    try:
        _run(spark, args)
    finally:
        # release what the stage pinned (the localCheckpoints of the
        # cluster, pack and cut loops): its output is written by now
        rdds = spark.sparkContext._jsc.getPersistentRDDs()
        for rdd_id in set(rdds) - pinned:
            rdds[rdd_id].unpersist(False)
    return 0


def _write(df: DataFrame, location: str, *aggs: Column,
           **bucketing) -> dict:
    """The one write of a table stage. Its row count (``rows``) and
    ``aggs`` (aliased aggregates) ride on the write as an unnamed
    Observation and come back by alias, so no job reads ``location``
    back for the stage summary. ``bucketing`` holds
    ``storage.write_bucketed``'s table/bucket_cols/n_buckets/sort_cols."""
    seen = Observation()
    df = df.observe(seen, F.count(F.lit(1)).alias("rows"), *aggs)
    if bucketing:
        storage.write_bucketed(df, path=location, **bucketing)
    else:
        storage.write_table(df, location)
    return seen.get


def _run(spark: SparkSession, args: argparse.Namespace) -> None:
    id_col = args.id_col or ("vec_id" if args.stage in ("ann", "semdedup")
                             else "doc_id")
    if args.stage in ("ingest", "stream-neardup", "stream-passages"):
        docs = None       # these stages interpret --input themselves
    elif args.input_format == "wav":
        from .sources.wav import read_wav_docs
        docs = read_wav_docs(spark, args.input)
    else:
        docs = storage.read_table(spark, args.input)

    from .operators.framing import FramingParams
    from .spectral import FeatureConfig
    cfg = FeatureConfig(
        framing=FramingParams(args.n_perseg, args.n_overlap),
        window=args.window, fps=args.fps, causal=args.causal,
        features=(tuple(args.features.split(","))
                  if args.features else None))

    if args.stage == "features":
        from .pipeline import run_feature_job
        summary = run_feature_job(spark, docs, args.output, cfg,
                                  n_buckets=args.buckets, split=args.split)
        print(json.dumps(summary))
    elif args.stage == "onsets":
        from .onsets import detect_onsets
        _write(detect_onsets(docs, cfg), args.output)
    elif args.stage in ("hmm", "textstats", "scrub"):
        # per-doc stages: one plain write, or with --resume-buckets a
        # bucketed resumable job. Per-doc EM is the most CPU-expensive
        # stage per byte, exactly where mid-run resume pays at scale
        if args.stage == "hmm":
            from .hmm import fit_hmm_docs
            params = {"stage": "hmm", "m_states": args.m_states}
            transform = partial(fit_hmm_docs, m_states=args.m_states)
        else:
            from .ml import textstats
            params = {"stage": args.stage, "text_col": args.text_col}
            transform = partial(textstats.text_profile
                                if args.stage == "textstats"
                                else textstats.scrub_text,
                                text_col=args.text_col)
        if args.resume_buckets > 0:
            from .pipeline import run_bucketed_job
            print(json.dumps(run_bucketed_job(
                spark, docs, args.output, transform=transform,
                params=params, n_buckets=args.resume_buckets,
                job_id=args.stage)))
        else:
            _write(transform(docs), args.output)
    elif args.stage == "nonlinear":
        from .nonlinear import extract_nonlinear
        _write(extract_nonlinear(docs), args.output)
    elif args.stage in ("som", "position"):
        # docs here = a feature/vector table with an array<double> column
        from .som import SomParams, assign_bmu, fit_batch_som
        vec_col = args.vec_col if args.vec_col in docs.columns else \
            ("embedding" if "embedding" in docs.columns else "lambda")
        if vec_col not in docs.columns:
            raise SystemExit(
                f"--stage {args.stage} needs a vector table with an "
                f"array<double> column (--vec-col, 'embedding', or an "
                f"hmm-stage 'lambda'); input has {docs.columns}. Run "
                f"--stage hmm first, or point --input at an embedding "
                f"table.")
        # a failed per-doc fit (e.g. hmm on a zero-token doc) leaves a
        # null vector: it has no map position
        docs = docs.where(F.col(vec_col).isNotNull())
        p = SomParams(args.som_rows, args.som_cols, n_iter=args.som_epochs)
        weights, qerr = fit_batch_som(docs, vec_col, p)
        out = assign_bmu(docs, vec_col, weights)
        _write(out.drop(vec_col), args.output)
        print(json.dumps({"qerr": qerr}))
    elif args.stage == "dedup":
        # exact dedup on the content hash: input needs (id, text) cols
        from .ml.dedup import exact_dedup
        got = _write(exact_dedup(docs, args.text_col, id_col), args.output)
        print(json.dumps({"rows_in": docs.count(), "rows_out": got["rows"]}))
    elif args.stage == "neardup":
        # MinHash-LSH near-dup pairs over the tokens column
        from .ml.dedup import minhash_dedup_pairs
        pairs = minhash_dedup_pairs(
            docs, n_hashes=args.n_hashes, n_bands=args.n_bands,
            shingle_k=args.shingle_k, threshold=args.threshold,
            id_col=id_col)
        print(json.dumps({"pairs": _write(pairs, args.output)["rows"]}))
    elif args.stage == "cluster":
        # duplicate-cluster resolution: near-dup pairs (pre-mined via
        # --pairs, else MinHash-LSH over --input) -> connected
        # components -> one canonical doc kept per cluster
        from .ml.dedup import (lsh_candidate_pairs, minhash_docs,
                               resolve_dup_clusters)
        if args.pairs:
            pairs = storage.read_table(spark, args.pairs) \
                .select("id_a", "id_b")
        else:
            eligible = docs.where(F.size("tokens") >= args.shingle_k)
            sigs = minhash_docs(eligible, args.n_hashes, args.shingle_k)
            pairs = lsh_candidate_pairs(sigs, n_bands=args.n_bands)
        got = _write(resolve_dup_clusters(docs, pairs, id_col=id_col),
                     args.output, F.sum("keep").alias("kept"))
        print(json.dumps({"docs": got["rows"],
                          "kept": int(got["kept"] or 0)}))
    elif args.stage == "passages":
        # exact duplicate-passage spans (fixed-k substring dedup):
        # every position whose k-token window content appears in
        # >= --min-docs distinct docs
        from .ml.dedup import (duplicate_passage_spans, excise_passages,
                               excise_to_fixpoint, passage_dup_stats,
                               passage_removal_spans)
        opts = dict(k=args.passage_k, key=args.passage_key,
                    min_docs=args.min_docs)
        if args.emit == "cut" and args.cut_rounds > 1:
            st: dict = {}
            out = excise_to_fixpoint(docs, max_rounds=args.cut_rounds,
                                     stats=st, **opts)
            print(json.dumps({
                "docs": _write(out, args.output)["rows"],
                "tokens_removed": st.get("tokens_removed", 0),
                "rounds": st.get("rounds", 0),
                "residual_span_starts": 0}))
        elif args.emit == "cut":
            out = excise_passages(docs, passage_removal_spans(docs, **opts))
            got = _write(out, args.output,
                         F.sum("n_removed").alias("removed"))
            # cutting creates new adjacencies across seams, so one
            # pass is not a fixed point — report what remains so a
            # single-pass cut is never mistaken for a converged one.
            # This probe must scan the cut corpus: the one read-back
            residual = passage_removal_spans(
                storage.read_table(spark, args.output).drop("n_removed"),
                **opts).count()
            print(json.dumps({"docs": got["rows"],
                              "tokens_removed": int(got["removed"] or 0),
                              "rounds": 1,
                              "residual_span_starts": int(residual)}))
        elif args.emit == "stats":
            got = _write(
                passage_dup_stats(docs, **opts), args.output,
                F.sum((F.col("n_dup_tokens") > 0).cast("int")).alias("hit"),
                F.round(F.avg("dup_frac"), 6).alias("frac"))
            print(json.dumps({"docs": got["rows"],
                              "docs_with_dups": int(got["hit"] or 0),
                              "mean_dup_frac": float(got["frac"] or 0.0)}))
        else:
            n_spans = _write(duplicate_passage_spans(docs, **opts),
                             args.output)["rows"]
            # an observed metric cannot be DISTINCT: the other read-back
            n_docs_hit = storage.read_table(spark, args.output).select(
                F.countDistinct("doc_id")).first()[0]
            print(json.dumps({"span_starts": n_spans,
                              "docs_hit": int(n_docs_hit or 0)}))
    elif args.stage in ("filter", "semdedup"):
        # filter: Gopher-rule quality verdicts (Rae et al. 2021 §A1.1)
        # over a tokenized docs table with a text column; output =
        # per-doc per-rule flags + combined keep.
        # semdedup (arXiv:2303.09540): k-means-partition the embedding
        # space, mine near-dups within clusters only, keep the least-
        # prototypical member per duplicate group. Input = vector table
        # (--id-col/--vec-col, defaults vec_id/embedding).
        if args.stage == "filter":
            from .ml.curation import quality_filter
            out = quality_filter(docs, text_col=args.text_col)
            unit = "docs"
        else:
            from .ml.semdedup import semantic_dedup
            out = semantic_dedup(docs, args.threshold,
                                 n_clusters=args.n_clusters,
                                 id_col=id_col, vec_col=args.vec_col)
            unit = "vectors"
        got = _write(out, args.output, F.sum("keep").alias("kept"))
        n, kept = got["rows"], int(got["kept"] or 0)
        print(json.dumps({unit: n, "kept": kept, "dropped": n - kept}))
    elif args.stage == "ann":
        # LSH top-k: input = vector table (--id-col, --vec-col; defaults
        # vec_id/embedding); queries = the first --n-queries vectors
        import numpy as np
        from .ml.simsearch import lsh_ann_topk
        qrows = (docs.orderBy(id_col).limit(args.n_queries)
                 .select(id_col, args.vec_col).collect())
        queries = np.array([r[args.vec_col] for r in qrows], "float64")
        q_ids = np.array([r[id_col] for r in qrows], "int64")
        _write(lsh_ann_topk(docs, queries, q_ids, k=args.topk,
                            id_col=id_col, vec_col=args.vec_col),
               args.output)
    elif args.stage == "ingest":
        # raw documents table -> canonical tokenized docs table, in
        # the SCALE.md layout: bucketed by doc_id (co-located joins +
        # resume granularity), sorted by n_tok (whales cluster into
        # few row groups)
        import os as _os
        from .tokenize import docs_from_documents
        if args.input.endswith("documents.parquet"):
            out = docs_from_documents(
                spark, _os.path.dirname(args.input) or ".")
        else:
            out = storage.read_table(spark, args.input)
        bucketing = (dict(table=args.table_name, bucket_cols=["doc_id"],
                          n_buckets=args.ingest_buckets, sort_cols=["n_tok"])
                     if args.ingest_buckets > 0 else {})
        print(json.dumps({"rows": _write(out, args.output,
                                         **bucketing)["rows"]}))
    elif args.stage == "stream-neardup":
        from .streaming import stream_minhash_neardup
        if not (args.checkpoint and args.store):
            raise SystemExit("stream-neardup requires --checkpoint "
                             "and --store")
        q = stream_minhash_neardup(
            spark, args.input, args.store, args.output, args.checkpoint,
            n_hashes=args.n_hashes, n_bands=args.n_bands,
            shingle_k=args.shingle_k, threshold=args.threshold)
        q.awaitTermination()
        try:
            n_pairs = spark.read.parquet(args.output).count()
        except AnalysisException:
            n_pairs = 0       # no near-dups -> no readable output yet
        print(json.dumps({"pairs": n_pairs}))
    elif args.stage == "stream-passages":
        from .streaming import stream_duplicate_passages
        if not (args.checkpoint and args.store):
            raise SystemExit("stream-passages requires --checkpoint "
                             "and --store")
        q = stream_duplicate_passages(
            spark, args.input, args.store, args.output, args.checkpoint,
            k=args.passage_k)
        q.awaitTermination()
        try:
            n_spans = (spark.read.parquet(args.output)
                       .select("doc_id", "pos").distinct().count())
        except AnalysisException:
            n_spans = 0       # no duplicated passages yet
        print(json.dumps({"span_starts": n_spans}))
    elif args.stage == "pack":
        # concat-and-chunk the tokenized docs table into fixed-context
        # training sequences (exact corpus round-trip; test_packing).
        # --shuffle-salt packs in a deterministic md5-shuffled doc
        # order instead of ingest order (shuffle-key-prefixed ids;
        # ml/curation.shuffle_corpus)
        from .operators.packing import pack_sequences
        if args.shuffle_salt:
            from .ml.curation import shuffle_key
            docs = docs.withColumn(
                "doc_id", F.concat(shuffle_key(args.shuffle_salt),
                                   F.lit(":"), F.col("doc_id")))
        got = _write(pack_sequences(docs, args.ctx_len), args.output,
                     F.sum("n_tok").cast("bigint").alias("n_tokens"))
        print(json.dumps({"n_seqs": got["rows"],
                          "n_tokens": int(got["n_tokens"] or 0),
                          "ctx_len": args.ctx_len}))
    elif args.stage == "sample":
        from .ml.curation import (mixture_sample, sample_rate,
                                  sample_stratified)
        if args.budget_tokens > 0 and not args.mix_weights:
            raise SystemExit(
                "--budget-tokens requires --mix-weights (the budget "
                "scales mixture ratios; it does not apply to "
                "--quota/--rate-hex sampling)")
        if args.mix_weights:
            weights = {k: float(v) for k, v in
                       (kv.split(":") for kv in args.mix_weights.split(","))}
            if args.budget_tokens > 0:
                # weights are mixture RATIOS: scale them into per-source
                # resampling multipliers hitting the token budget
                from .ml.curation import budget_mixture_weights
                weights = budget_mixture_weights(
                    docs, weights, args.budget_tokens, by=args.stratify_by)
            copies = mixture_sample(docs, weights, by=args.stratify_by)
            # resampled copies get UNIQUE ids (doc_id#copy, original
            # kept in orig_doc_id): every downstream stage joins or
            # packs on doc_id and assumes it is a key — feeding
            # repeated ids to pack_sequences multiplied token
            # payloads through the offsets equi-join (silent 52x
            # corruption before pack's duplicate guard existed)
            out = (copies.join(docs.drop(args.stratify_by), "doc_id")
                   .withColumn("orig_doc_id", F.col("doc_id"))
                   .withColumn("doc_id",
                               F.concat_ws("#", "doc_id", "copy")))
        elif args.quota > 0:
            keep = sample_stratified(docs, args.quota, by=args.stratify_by)
            out = docs.join(keep.select("doc_id"), "doc_id", "left_semi")
        else:
            out = sample_rate(docs, args.rate_hex)
        got = _write(out, args.output)
        print(json.dumps({"rows_in": docs.count(), "rows_out": got["rows"]}))
    elif args.stage == "contaminate":
        from .ml.curation import benchmark_split, contamination_check
        if args.benchmark:
            bench = storage.read_table(spark, args.benchmark)
            train = docs
        else:
            train, bench = benchmark_split(docs)
        got = _write(contamination_check(train, bench, k=args.shingle_k),
                     args.output,
                     F.count(F.when(F.col("hit_frac") > 0, 1)).alias("hit"))
        print(json.dumps({"docs_scored": got["rows"],
                          "docs_contaminated": got["hit"]}))
    elif args.stage == "lmscore":
        # CCNet-style bigram-LM quality signal: score docs under a
        # model counted on --benchmark (a trusted reference table); a
        # deterministic benchmark_split of the input when absent
        from .ml.curation import benchmark_split, ngram_lm_score
        if args.benchmark:
            ref = storage.read_table(spark, args.benchmark)
            scored = docs
        else:
            scored, ref = benchmark_split(docs)
        # bigram-weighted corpus mean: the 0.0 zero-fill of bigram-less
        # docs is "unscored", not "perfect" — a plain avg would pull
        # the corpus score toward 0 on short-doc-heavy corpora
        got = _write(
            ngram_lm_score(scored, ref), args.output,
            F.count(F.when(F.col("n_bigrams") > 0, 1)).alias("scored"),
            F.sum(F.col("mean_logp") * F.col("n_bigrams")).alias("lp"),
            F.sum("n_bigrams").alias("bigrams"))
        mean_lp = float(got["lp"] or 0.0) / max(int(got["bigrams"] or 0), 1)
        print(json.dumps({"docs": got["rows"],
                          "docs_scored": int(got["scored"]),
                          "corpus_mean_logp": round(mean_lp, 6)}))
    elif args.stage == "export":
        if args.export_format == "csv":
            storage.write_csv(docs, args.output)
        else:
            storage.write_json(docs, args.output)


if __name__ == "__main__":
    sys.exit(main())
