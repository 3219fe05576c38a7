#!/usr/bin/env python
"""sf1-scale spot bench for the two most expensive r03 operators
(VERDICT r03 #3a): dup_clusters (pair mining + connected components +
canonical resolution) and pack_sequences, on the whale-skew generator
(FIXTURES.md F1 — Zipf lengths + 65k+ whales), ~10x the per-round
bench's doc count.

Prints one JSON line with rows/sec, wall seconds, and the CC round
count; results are recorded in SCALE.md's appendix.

Env: SPARK_GRAFT_CPUS (default 32), SCALE_DOCS (default 4000 ~ sf1).
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from apollon_spark.session import get_spark  # noqa: E402


def main() -> None:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    n_docs = int(os.environ.get("SCALE_DOCS", 4000))
    spark = get_spark("apollon-scale-ops", cpus=cpus)
    from pyspark.sql import functions as F

    from apollon_spark.datagen import synth_docs
    from apollon_spark.ml import dedup as dd
    from apollon_spark.operators.packing import pack_sequences

    docs = synth_docs(spark, n_docs, whales=True).cache()
    total_docs = docs.count()
    total_tokens = docs.agg(F.sum("n_tok")).first()[0]

    out: dict = {"n_docs": total_docs, "n_tokens": int(total_tokens),
                 "cpus": cpus}

    # --- dup_clusters: minhash -> banded pairs -> CC -> resolve ------
    t0 = time.time()
    eligible = docs.where(F.col("n_tok") >= 3)
    sigs = dd.minhash_docs(eligible, n_hashes=8, shingle_k=3)
    pairs = dd.lsh_candidate_pairs(sigs, n_bands=4).cache()
    n_pairs = pairs.count()
    t_pairs = time.time() - t0

    # instrument CC rounds via a counting wrapper around the loop's
    # checkpoint count (cheap: re-run components standalone)
    t0 = time.time()
    verdicts = dd.resolve_dup_clusters(docs, pairs)
    n_docs_out = verdicts.count()
    n_kept = verdicts.agg(F.sum("keep")).first()[0]
    t_resolve = time.time() - t0
    out["dup_clusters"] = {
        "pair_mining_sec": round(t_pairs, 2),
        "n_pairs": n_pairs,
        "resolve_sec": round(t_resolve, 2),
        "docs_per_sec": round(total_docs / (t_pairs + t_resolve), 1),
        "n_kept": int(n_kept), "n_docs_out": n_docs_out,
    }
    # round count: run the CC loop with a stats probe
    t0 = time.time()
    st: dict = {}
    comp = dd.connected_components(
        pairs.select(F.col("id_a").cast("string").alias("id_a"),
                     F.col("id_b").cast("string").alias("id_b")),
        stats=st)
    n_nodes = comp.count()
    out["dup_clusters"]["cc_nodes"] = n_nodes
    out["dup_clusters"]["cc_rounds"] = st.get("rounds")
    out["dup_clusters"]["cc_standalone_sec"] = round(time.time() - t0, 2)
    pairs.unpersist()

    # --- pack_sequences ---------------------------------------------
    t0 = time.time()
    packed = pack_sequences(docs, ctx_len=2048)
    n_seqs = packed.count()
    t_pack = time.time() - t0
    out["pack_sequences"] = {
        "sec": round(t_pack, 2),
        "n_seqs": n_seqs,
        "tokens_per_sec": round(total_tokens / t_pack, 0),
        "docs_per_sec": round(total_docs / t_pack, 1),
    }

    # --- duplicate passages (exact substring dedup, fixed k) --------
    t0 = time.time()
    spans = dd.duplicate_passage_spans(docs, k=32, key="hash")
    n_spans = spans.count()
    t_pass = time.time() - t0
    out["dup_passages"] = {
        "sec": round(t_pass, 2),
        "k": 32,
        "n_span_starts": n_spans,
        "windows_per_sec": round(total_tokens / t_pass, 0),
    }
    # --- keep-one removal spans under an engineered hot key ----------
    # VERDICT r04 #2 regime: ONE boilerplate k-gram stamped into half
    # the corpus, so a single pkey owns ~n_docs/2 occurrences. The
    # canonical pick must stay an aggregate (map-side combined), not a
    # per-pkey sorted window — this entry times exactly that path.
    t0 = time.time()
    boiler = F.sequence(F.lit(900001), F.lit(900032))
    hot = docs.withColumn(
        "tokens",
        F.when(F.crc32(F.col("doc_id").cast("string")) % 2 == 0,
               F.concat(boiler, F.col("tokens")))
        .otherwise(F.col("tokens"))).withColumn(
            "n_tok", F.size("tokens"))
    rem = dd.passage_removal_spans(hot, k=32, key="hash")
    n_rem = rem.count()
    t_hot = time.time() - t0
    # denominators measured on the STAMPED corpus (the timed input),
    # not the original: the stamp adds 32 tokens to ~half the docs
    n_stamped, hot_tokens = hot.agg(
        F.sum((F.crc32(F.col("doc_id").cast("string")) % 2 == 0)
              .cast("long")),
        F.sum("n_tok")).first()
    out["removal_spans_hot_key"] = {
        "sec": round(t_hot, 2),
        "k": 32,
        "hot_occurrences": int(n_stamped),
        "n_removal_spans": n_rem,
        "windows_per_sec": round(int(hot_tokens) / t_hot, 0),
    }

    # --- excision to fixpoint (Lee et al. keep-one, iterated) --------
    # VERDICT r04 #8: the fold had tests + a value-oracled span face
    # but no timed entry. Runs on the HOT corpus (the stamped
    # boilerplate guarantees duplication — the synth corpus has no
    # organic k=32 dups, which would make the fold a no-op probe);
    # seam cascades are engineered in tests, here the stamp drives at
    # least one real cut round + the convergence re-probe.
    t0 = time.time()
    st_fx: dict = {}
    deduped = dd.excise_to_fixpoint(hot, k=32, key="hash",
                                    max_rounds=8, stats=st_fx)
    n_fx_docs = deduped.count()
    t_fx = time.time() - t0
    out["excise_to_fixpoint"] = {
        "sec": round(t_fx, 2),
        "k": 32,
        "rounds": st_fx.get("rounds"),
        "tokens_removed": st_fx.get("tokens_removed"),
        "n_docs_out": n_fx_docs,
        "tokens_per_sec": round(int(hot_tokens) / t_fx, 0),
    }

    # --- bigram-LM quality scoring (CCNet-style) ---------------------
    # reference = a deterministic 1/16 split of the same corpus; the
    # model is broadcast, so the corpus side is scan + map-side joins
    from apollon_spark.ml.curation import benchmark_split, ngram_lm_score
    t0 = time.time()
    train, ref = benchmark_split(docs)
    lm = ngram_lm_score(train, ref)
    n_lm, tot_bg = lm.agg(F.count("*"), F.sum("n_bigrams")).first()
    t_lm = time.time() - t0
    out["ngram_lm_score"] = {
        "sec": round(t_lm, 2),
        "docs_scored": n_lm,
        "n_bigrams": int(tot_bg),
        "bigrams_per_sec": round(tot_bg / t_lm, 0),
    }

    # --- semantic dedup (SemDeDup) -----------------------------------
    # 10x the per-round bench's vector count; clustered Gaussians so
    # semantic dups exist. n_clusters scales with corpus size — the
    # knob that bounds the within-cluster quadratic (SCALE.md §2).
    import numpy as np
    import pandas as pd

    from apollon_spark.ml.semdedup import semantic_dedup
    n_vecs = int(os.environ.get("SCALE_VECS", 20000))
    rng = np.random.default_rng(17)
    centers = rng.standard_normal((64, 64)) * 3
    vecs = (centers[rng.integers(0, 64, n_vecs)]
            + 0.3 * rng.standard_normal((n_vecs, 64)))
    emb = spark.createDataFrame(pd.DataFrame({
        "vec_id": np.arange(n_vecs, dtype="int64"),
        "embedding": list(vecs)})).repartition(int(cpus)).cache()
    emb.count()
    t0 = time.time()
    verdict = semantic_dedup(emb, threshold=0.97, n_clusters=128)
    n_vec_out, n_vec_kept = verdict.agg(
        F.count("*"), F.sum("keep")).first()
    t_sem = time.time() - t0
    out["semantic_dedup"] = {
        "sec": round(t_sem, 2),
        "n_vectors": n_vec_out,
        "n_kept": int(n_vec_kept),
        "n_clusters": 128,
        "vectors_per_sec": round(n_vec_out / t_sem, 1),
    }
    emb.unpersist()

    docs.unpersist()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
