"""The workloads. Each calls the engine's public entry points the way
a user or the CLI would, from an input table on disk to an output table
written.

A workload provides:

* ``job(spark, inp, out, truth, tr)`` — the timed job; returns a
  summary;
* ``signature(spark, out, summary)`` — a fingerprint of the job's output
  (off the clock) that must be identical for every job of one seed;
* ``check(spark, inp, out, truth, summary)`` — the full output check
  (off the clock), returning a list of failures;
* ``trace(spark, inp, out, scratch, truth, summary, tr)`` — traced-run
  extras after a traced job: single-layer or prefix runs for layers
  Spark fuses with their neighbours, and the layer counts. Returns
  {layer: {"spans": [...], "minus": [...], <count>: value}}: the
  layer's cost is the summed spans minus the summed ``minus`` spans.
"""
from __future__ import annotations

import contextlib
import io
import json
import math
import os

from pyspark.sql import functions as F

from apollon_spark import storage

import gen


def _unique(spark, path, col="doc_id"):
    n, d = storage.read_table(spark, path).select(
        F.count("*"), F.countDistinct(col)).first()
    return n == d, n


class Features:
    """run_feature_job over F1 docs: 2 buckets, split=False."""
    name = "features"
    size = 100
    rows_key = "docs"
    n_buckets = 2

    def job(self, spark, inp, out, truth, tr):
        from apollon_spark.pipeline import run_feature_job
        docs = storage.read_table(spark, os.path.join(inp, "docs"))
        with tr.span("pipeline.run_feature_job"):
            summary = run_feature_job(spark, docs, out,
                                      n_buckets=self.n_buckets, split=False)
        return {"rows": summary["rows_out"],
                "buckets": summary["buckets_done"]}

    def signature(self, spark, out, summary):
        from apollon_spark.pipeline import read_lineage
        return [summary["rows"], sum(r["checksum"]
                                     for r in read_lineage(out))]

    def check(self, spark, inp, out, truth, summary):
        fails = []
        if summary["rows"] != truth["expected_segments"]:
            fails.append(f"rows {summary['rows']} != expected segments "
                         f"{truth['expected_segments']}")
        if summary["buckets"] != self.n_buckets:
            fails.append(f"{summary['buckets']} buckets ran, "
                         f"expected {self.n_buckets}")
        written = storage.read_table(spark, os.path.join(out, "features"))
        if written.count() != summary["rows"]:
            fails.append("written rows differ from the job summary")
        return fails

    def trace(self, spark, inp, out, scratch, truth, summary, tr):
        from apollon_spark.spectral import extract_features
        docs = storage.read_table(spark, os.path.join(inp, "docs"))
        with tr.span("spectral.extract_features"):
            storage.write_table(extract_features(docs, split=False),
                                os.path.join(scratch, "extract"))
        return {"spectral": {"spans": ["spectral.extract_features"]},
                "pipeline": {"spans": ["pipeline.run_feature_job"],
                             "minus": ["spectral.extract_features"],
                             "buckets": summary["buckets"]}}


def _cli(argv):
    """apollon_spark.cli.main in-process; returns its JSON summary."""
    from apollon_spark.cli import main
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = main(argv)
    if rc:
        raise RuntimeError(f"cli {argv[:2]} exited {rc}")
    lines = [ln for ln in buf.getvalue().splitlines() if ln.startswith("{")]
    return json.loads(lines[-1]) if lines else {}


class Curation:
    """README recipe: ingest -> filter -> cluster -> contaminate ->
    (join verdicts) -> sample -> pack, through the CLI."""
    name = "curation"
    ctx_len = 1024
    mix = "web:0.6,code:0.3,books:0.1"
    budget_share = 0.5            # token budget, share of the raw corpus
    contam_max = 0.3              # drop docs with hit_frac >= this
    min_dup_recall = 0.9

    def job(self, spark, inp, out, truth, tr):
        p = {k: os.path.join(out, k) for k in
             ("docs", "verdicts", "keep", "contam", "filtered", "mixed",
              "seqs")}
        res = {}
        with tr.span("tokenize.ingest"):
            res["ingest"] = _cli([
                "--stage", "ingest", "--input",
                os.path.join(inp, "raw", "documents.parquet"),
                "--output", p["docs"]])
        with tr.span("ml.curation.filter"):
            res["filter"] = _cli(["--stage", "filter", "--input",
                                  os.path.join(inp, "raw"),
                                  "--output", p["verdicts"]])
        with tr.span("ml.dedup.cluster"):
            res["cluster"] = _cli(["--stage", "cluster", "--input",
                                   p["docs"], "--output", p["keep"]])
        with tr.span("ml.curation.contaminate"):
            res["contaminate"] = _cli([
                "--stage", "contaminate", "--input", p["docs"],
                "--output", p["contam"], "--benchmark",
                os.path.join(inp, "eval")])
        with tr.span("storage.join_verdicts"):
            # README: join the doc_id-keyed verdict tables onto docs
            # between decontamination and sampling
            rd = lambda k: storage.read_table(spark, p[k])  # noqa: E731
            filtered = (rd("docs")
                        .join(rd("verdicts").select("doc_id", "keep")
                              .where("keep = 1"), "doc_id", "left_semi")
                        .join(rd("keep").where("keep = 1"), "doc_id",
                              "left_semi")
                        .join(rd("contam").where(
                            F.col("hit_frac") < self.contam_max),
                            "doc_id", "left_semi"))
            storage.write_table(filtered, p["filtered"])
        budget = int(self.budget_share * truth["tokens"])
        with tr.span("ml.curation.sample"):
            res["sample"] = _cli([
                "--stage", "sample", "--input", p["filtered"],
                "--output", p["mixed"], "--mix-weights", self.mix,
                "--budget-tokens", str(budget)])
        with tr.span("operators.packing.pack"):
            res["pack"] = _cli(["--stage", "pack", "--input", p["mixed"],
                                "--output", p["seqs"], "--ctx-len",
                                str(self.ctx_len), "--shuffle-salt", "run1"])
        return res

    def signature(self, spark, out, summary):
        return json.dumps(summary, sort_keys=True)

    def check(self, spark, inp, out, truth, summary):
        fails = []
        p = {k: os.path.join(out, k) for k in
             ("docs", "verdicts", "keep", "contam", "filtered", "mixed")}
        for seam, path in p.items():
            ok, n = _unique(spark, path)
            if not ok:
                fails.append(f"doc_id not unique in {seam} ({n} rows)")
        mixed_tok = storage.read_table(spark, p["mixed"]).select(
            F.sum("n_tok")).first()[0]
        seqs = storage.read_table(spark, os.path.join(out, "seqs"))
        packed_tok, longest = seqs.select(
            F.sum("n_tok"), F.max(F.size("tokens"))).first()
        if packed_tok != mixed_tok:
            fails.append(f"packed tokens {packed_tok} != sampled n_tok "
                         f"{mixed_tok}")
        if longest is None or longest > self.ctx_len:
            fails.append(f"longest sequence {longest} > {self.ctx_len}")
        recall = dup_recall(spark, p["keep"], truth)
        if recall < self.min_dup_recall:
            fails.append(f"planted-duplicate recall {recall:.3f} < "
                         f"{self.min_dup_recall}")
        return fails

    def trace(self, spark, inp, out, scratch, truth, summary, tr):
        from apollon_spark.ml.dedup import (connected_components,
                                            lsh_candidate_pairs, minhash_docs)
        docs = storage.read_table(spark, os.path.join(out, "docs"))
        # the cluster stage's pair miner and components on their own
        # (CLI defaults), for the counts the stage does not print
        sigs = minhash_docs(docs.where(F.size("tokens") >= 3), 16, 3)
        cand = {tuple(sorted((r["id_a"], r["id_b"])))
                for r in lsh_candidate_pairs(sigs, n_bands=4).collect()}
        stats = {}
        connected_components(spark.createDataFrame(
            sorted(cand), "id_a string, id_b string"), stats=stats).count()
        planted = {tuple(sorted(pr)) for c in truth["dup_clusters"]
                   for pr in _pairs(c)}
        seqs = storage.read_table(spark, os.path.join(out, "seqs"))
        n_seqs, n_tok = seqs.select(F.count("*"), F.sum("n_tok")).first()
        return {
            "tokenize": {"spans": ["tokenize.ingest"]},
            "ml.curation": {
                "spans": ["ml.curation.filter", "ml.curation.contaminate",
                          "ml.curation.sample"],
                "kept_share": summary["sample"]["rows_in"]
                / max(summary["filter"]["docs"], 1)},
            "ml.dedup": {
                "spans": ["ml.dedup.cluster"],
                "candidate_pairs": len(cand),
                "pair_precision": len(cand & planted) / max(len(cand), 1),
                "cc_rounds": stats.get("rounds", 0),
                "dup_recall": dup_recall(
                    spark, os.path.join(out, "keep"), truth)},
            "storage": {"spans": ["storage.join_verdicts"]},
            "operators.packing": {
                "spans": ["operators.packing.pack"],
                "fill_ratio": n_tok / max(n_seqs * self.ctx_len, 1)},
        }


def _pairs(members):
    return [(a, b) for i, a in enumerate(members) for b in members[i + 1:]]


def dup_recall(spark, keep_path, truth) -> float:
    """Share of planted extra copies the cluster stage marked keep=0."""
    ids = [m for c in truth["dup_clusters"] for m in c]
    if not ids:
        return 1.0
    rows = (storage.read_table(spark, keep_path)
            .where(F.col("doc_id").isin(ids))
            .select("doc_id", "keep").collect())
    dropped = sum(1 for r in rows if r["keep"] == 0)
    return dropped / truth["planted_dup_docs"]


class Pit:
    """asof_join (default strategy) -> sessionize -> locf ->
    lag_lead_delta -> parquet, keyed by ``key`` over click rows."""
    name = "pit"
    size = 300_000
    rows_key = "events"
    n_check_keys = 50

    # the layer each prefix depth of ``chain`` adds; Spark fuses the
    # chain into one job, so each layer is measured as the marginal
    # cost of running one prefix more
    LAYERS = ["storage", "operators.asof", "operators.sessionize",
              "operators.backfill"]

    def chain(self, spark, inp, depth):
        from apollon_spark.operators.asof import asof_join
        from apollon_spark.operators.backfill import lag_lead_delta, locf
        from apollon_spark.operators.sessionize import sessionize
        ev = storage.read_table(spark, os.path.join(inp, "events"))
        df = ev.where(F.col("kind") == "click").select("key", "t_us", "dwell")
        if depth >= 1:
            right = ev.where(F.col("kind") == "purchase").select(
                "key", F.col("t_us").alias("rt"),
                F.col("t_us").alias("p_t"), "amount")
            df = asof_join(df, right, on="t_us", by="key", right_on="rt")
        if depth >= 2:
            df = sessionize(df, on="t_us", gap=gen.SESSION_GAP_US, by="key")
        if depth >= 3:
            df = locf(df, ["dwell"], on="t_us", by="key")
            df = lag_lead_delta(df, "dwell", on="t_us", by="key")
        return df

    def job(self, spark, inp, out, truth, tr):
        with tr.span("pit.chain"):
            storage.write_table(self.chain(spark, inp, 3),
                                os.path.join(out, "pit"))
        return {}

    def signature(self, spark, out, summary):
        res = storage.read_table(spark, os.path.join(out, "pit"))
        return list(res.select(F.count("*"), F.sum(
            F.xxhash64(*sorted(res.columns)) % 1_000_000_007)).first())

    def check(self, spark, inp, out, truth, summary):
        import duckdb
        fails = []
        res = storage.read_table(spark, os.path.join(out, "pit"))
        n, late, sessions = res.select(
            F.count("*"), F.count(F.when(F.col("p_t") > F.col("t_us"), 1)),
            F.countDistinct("key", "session_id")).first()
        if n != truth["left_rows"]:
            fails.append(f"rows {n} != left rows {truth['left_rows']}")
        if late:
            fails.append(f"{late} rows matched a purchase after t_us")
        if sessions != truth["expected_sessions"]:
            fails.append(f"sessions {sessions} != expected "
                         f"{truth['expected_sessions']}")
        # DuckDB ASOF JOIN on the hot key plus a sample of keys
        keys = [truth["hot_key"]] + list(range(1, truth["keys"],
                                               truth["keys"] //
                                               self.n_check_keys))
        klist = ",".join(str(k) for k in keys)
        con = duckdb.connect()
        try:
            ev = os.path.join(inp, "events", "*.parquet")
            got = os.path.join(out, "pit", "*.parquet")
            diff = con.execute(f"""
                WITH l AS (SELECT key, t_us FROM read_parquet('{ev}')
                           WHERE kind = 'click' AND key IN ({klist})),
                     r AS (SELECT key, t_us AS rt, amount
                           FROM read_parquet('{ev}')
                           WHERE kind = 'purchase' AND key IN ({klist})),
                     want AS (SELECT l.key, l.t_us, r.rt AS p_t, r.amount
                              FROM l ASOF LEFT JOIN r
                              ON l.key = r.key AND l.t_us >= r.rt),
                     have AS (SELECT key, t_us, p_t, amount
                              FROM read_parquet('{got}')
                              WHERE key IN ({klist}))
                SELECT (SELECT count(*) FROM want),
                       (SELECT count(*) FROM have),
                       (SELECT count(*) FROM (SELECT * FROM want EXCEPT ALL
                                              SELECT * FROM have))
            """).fetchone()
        finally:
            con.close()
        if diff[0] != diff[1] or diff[2]:
            fails.append(f"DuckDB ASOF JOIN disagrees on {len(keys)} keys: "
                         f"want {diff[0]} rows, have {diff[1]}, "
                         f"{diff[2]} differ")
        return fails

    def trace(self, spark, inp, out, scratch, truth, summary, tr):
        names = [f"pit.prefix{d}" for d in range(len(self.LAYERS) - 1)]
        for depth, name in enumerate(names):
            with tr.span(name):
                storage.write_table(self.chain(spark, inp, depth),
                                    os.path.join(scratch, name))
        names.append("pit.chain")
        layers = {self.LAYERS[0]: {"spans": [names[0]]}}
        for d in range(1, len(names)):
            layers[self.LAYERS[d]] = {"spans": [names[d]],
                                      "minus": [names[d - 1]]}
        matched = storage.read_table(spark, os.path.join(out, "pit")) \
            .where(F.col("p_t").isNotNull()).count()
        layers["operators.asof"]["match_rate"] = matched / truth["left_rows"]
        return layers


class Similarity:
    """fit_similarity_map (m=3, 8x8 SOM, 8 epochs, HMM fits over each
    doc's first 1,024 tokens) over short docs, positions written as
    parquet."""
    name = "similarity"
    som = (8, 8)
    epochs = 8
    max_obs = 1024

    def job(self, spark, inp, out, truth, tr):
        from apollon_spark.similarity import fit_similarity_map
        docs = storage.read_table(spark, os.path.join(inp, "docs"))
        with tr.span("similarity.fit_similarity_map"):
            pos, weights, qerr = fit_similarity_map(
                docs, m_states=3, som_rows=self.som[0],
                som_cols=self.som[1], n_iter=self.epochs,
                max_obs=self.max_obs)
            storage.write_table(pos, os.path.join(out, "positions"))
        return {"qerrors": qerr}

    def signature(self, spark, out, summary):
        rows = sorted(tuple(r) for r in storage.read_table(
            spark, os.path.join(out, "positions")).select(
                "doc_id", "bmu", F.round("bmu_dist", 9)).collect())
        return [rows, [round(q, 9) for q in summary["qerrors"]]]

    def check(self, spark, inp, out, truth, summary):
        fails = []
        pos = storage.read_table(spark, os.path.join(out, "positions"))
        n, d, lo, hi, bad = pos.select(
            F.count("*"), F.countDistinct("doc_id"), F.min("bmu"),
            F.max("bmu"),
            F.count(F.when(F.isnan("bmu_dist") | F.col("bmu_dist").isNull(),
                           1))).first()
        n_units = self.som[0] * self.som[1]
        if n != d:
            fails.append(f"{n - d} docs have more than one BMU")
        if n == 0 or n > truth["docs"]:
            fails.append(f"{n} positions for {truth['docs']} docs")
        if n and (lo < 0 or hi >= n_units):
            fails.append(f"BMU out of range [{lo}, {hi}]")
        if bad:
            fails.append(f"{bad} non-finite BMU distances")
        q = summary["qerrors"]
        if len(q) != self.epochs or not all(math.isfinite(x) for x in q):
            fails.append(f"quantisation errors not finite: {q}")
        return fails

    def trace(self, spark, inp, out, scratch, truth, summary, tr):
        from apollon_spark.hmm import fit_hmm_docs
        docs = storage.read_table(spark, os.path.join(inp, "docs"))
        with tr.span("hmm.fit_hmm_docs"):
            # the descriptor fits fit_similarity_map runs, on their own
            storage.write_table(
                fit_hmm_docs(docs, m_states=3, max_obs=self.max_obs,
                             max_iter=300),
                os.path.join(scratch, "hmm"))
        iters, conv = storage.read_table(
            spark, os.path.join(scratch, "hmm")).select(
                F.avg("n_iter"), F.avg(F.col("success").cast("double"))
        ).first()
        return {"hmm": {"spans": ["hmm.fit_hmm_docs"],
                        "mean_em_iters": float(iters or 0),
                        "converged_share": float(conv or 0)},
                "som": {"spans": ["similarity.fit_similarity_map"],
                        "minus": ["hmm.fit_hmm_docs"],
                        "epochs": len(summary["qerrors"])}}


class Corpus:
    """The curation recipe, then the similarity map of a sample of
    sequence docs: the doc workloads made of many small Spark jobs.
    Each part reads and writes its own subdirectory."""
    name = "corpus"
    size = 100                    # curation documents (gen.SIM_DOCS more)
    rows_key = "docs"
    parts = (Curation(), Similarity())

    def _each(self, inp, out, truth, summary=None):
        for p in self.parts:
            yield (p, os.path.join(inp, p.name), os.path.join(out, p.name),
                   truth[p.name], summary and summary[p.name])

    def job(self, spark, inp, out, truth, tr):
        return {p.name: p.job(spark, i, o, t, tr)
                for p, i, o, t, _ in self._each(inp, out, truth)}

    def signature(self, spark, out, summary):
        return [p.signature(spark, os.path.join(out, p.name), summary[p.name])
                for p in self.parts]

    def check(self, spark, inp, out, truth, summary):
        return [f"{p.name}: {f}"
                for p, i, o, t, s in self._each(inp, out, truth, summary)
                for f in p.check(spark, i, o, t, s)]

    def trace(self, spark, inp, out, scratch, truth, summary, tr):
        layers = {}
        for p, i, o, t, s in self._each(inp, out, truth, summary):
            layers.update(p.trace(spark, i, o, os.path.join(scratch, p.name),
                                  t, s, tr))
        return layers


WORKLOADS = {w.name: w for w in (Features(), Pit(), Corpus())}
