"""Semantic deduplication (SemDeDup) for embedding-bearing corpora.

Implements the SemDeDup recipe (Abbas et al., "SemDeDup: Data-efficient
learning at web-scale through semantic deduplication", arXiv:2303.09540):
k-means-partition the embedding space, search for near-duplicates ONLY
within each cluster, and keep one representative per duplicate group —
the member LEAST similar to its cluster centroid (the paper's
"low-similarity-to-centroid" keep policy, which preserves the less
prototypical, more diverse example).

This is the semantic complement to the lexical miners in ``dedup.py``
(MinHash/SimHash catch re-phrasings of the same bytes; SemDeDup catches
paraphrases and translations that share no n-grams).

Scale design (the whole point of the clustering step):
- The quadratic pair search is confined to clusters; cost is
  Σ |cluster|² instead of n². The paper runs ~100k clusters over
  multi-billion-row corpora — cluster count is the knob that bounds
  the per-bucket quadratic, exactly like bands/planes bound the LSH
  miners in ``dedup.py``.
- Centroids are tiny (k × dim) and broadcast; routing is ONE Arrow
  pass over the corpus (no shuffle).
- The within-cluster self-join runs on (id, cluster) KEYS ONLY;
  embedding payloads are joined back once per surviving candidate
  pair, never carried through the candidate shuffle — same discipline
  as ``cosine_near_dups_lsh``.
- Group resolution reuses ``connected_components`` at PAIR scale
  (candidate-scale, not corpus-scale) and the verdict join back is
  one id shuffle.
"""
from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import connected_components
from .simsearch import _cos_sim_udf, kmeans_centroids

PAIR_SCHEMA = "cluster int, id_a long, id_b long, cos_sim double"
VERDICT_SCHEMA = ("id long, cluster int, centroid_sim double, "
                  "group_id long, keep int")


def _default_centroids(vectors: DataFrame, id_col: str, vec_col: str,
                       n_clusters: int, sample_size: int,
                       seed: int) -> np.ndarray | None:
    """kmeans++ centroids from a deterministic corpus-WIDE sample:
    the ``sample_size`` rows with the smallest md5(id) — a seedless
    uniform draw (the repo's salted-coin device), NOT the physically
    first rows. A bare ``limit()`` would read one file's worth — one
    source/domain on a per-source ingest layout — and centroids
    describing only that region let the other sources collapse into
    catch-all clusters, degrading the within-cluster quadratic toward
    n². TakeOrderedAndProject keeps this a per-partition top-k merge,
    no full shuffle. None on an empty corpus (np.stack([]) would
    raise — callers short-circuit to an empty result instead)."""
    rows = (vectors
            .select(F.md5(F.col(id_col).cast("string")).alias("_h"),
                    vec_col)
            .orderBy("_h").limit(sample_size)
            .select(vec_col).collect())
    if not rows:
        return None
    sample = np.stack([np.asarray(r[0], "float64") for r in rows])
    return kmeans_centroids(sample, n_clusters, seed=seed)


def semantic_assign(vectors: DataFrame, centroids: np.ndarray,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """Route every vector to its nearest centroid (L2 argmin, ties ->
    lowest cluster id — np.argmin convention, mirrored by the oracle's
    ``row_number() ORDER BY d2, cl``) and score its cosine similarity
    to that centroid (the keep-policy signal). One mapInPandas pass,
    centroids broadcast: (id, cluster, centroid_sim)."""
    cents = np.asarray(centroids, "float64")
    spark = vectors.sparkSession
    bc = spark.sparkContext.broadcast(cents)

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cc = bc.value
        cn = cc / np.maximum(np.linalg.norm(cc, axis=1, keepdims=True),
                             1e-300)
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack([np.asarray(v, "float64") for v in pdf[vec_col]])
            d2 = ((x[:, None, :] - cc[None, :, :]) ** 2).sum(-1)
            cl = d2.argmin(axis=1).astype("int32")
            xn = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True),
                                1e-300)
            sim = np.einsum("ij,ij->i", xn, cn[cl])
            yield pd.DataFrame({"id": pdf[id_col].to_numpy(),
                                "cluster": cl, "centroid_sim": sim})

    return vectors.select(id_col, vec_col).mapInPandas(
        assign, "id long, cluster int, centroid_sim double")


def _ensure_assign(vectors: DataFrame, n_clusters: int,
                   centroids: np.ndarray | None, sample_size: int,
                   seed: int, id_col: str, vec_col: str,
                   assign: DataFrame | None) -> DataFrame | None:
    """Shared bootstrap for the two pair miners: pass through a
    caller-provided routing table, else train/accept centroids and
    route. None signals an empty corpus (callers return an empty
    PAIR_SCHEMA frame)."""
    if assign is not None:
        return assign
    if centroids is None:
        centroids = _default_centroids(vectors, id_col, vec_col,
                                       n_clusters, sample_size, seed)
        if centroids is None:        # empty corpus
            return None
    return semantic_assign(vectors, centroids, id_col, vec_col)


def semantic_dup_pairs(vectors: DataFrame, threshold: float,
                       n_clusters: int = 8,
                       centroids: np.ndarray | None = None,
                       sample_size: int = 2048, seed: int = 13,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding",
                       assign: DataFrame | None = None) -> DataFrame:
    """Within-cluster near-duplicate pairs: (cluster, id_a, id_b,
    cos_sim) for every same-cluster pair with cosine >= ``threshold``.

    ``centroids`` overrides the kmeans++ training with explicit
    vectors, making the stage a deterministic function of its inputs —
    the contract gate passes the first rows of the corpus so the SQL
    oracle can re-derive routing and scoring exactly (same device as
    ``ivf_candidates``/``som_train``).

    Keys-only candidate mining: the (id, cluster) table is lazily
    checkpointed before its self-join (else both join sides recompute
    the routing scan), payloads join back once per pair.
    ``assign`` lets a caller that already routed the corpus
    (``semantic_dedup``) pass its (id, cluster, ...) table in, so the
    routing scan runs once — and is checkpointed once, not re-pinned
    here on top of the caller's checkpoint."""
    keys_checkpointed = assign is not None
    assign = _ensure_assign(vectors, n_clusters, centroids, sample_size,
                            seed, id_col, vec_col, assign)
    if assign is None:
        return vectors.sparkSession.createDataFrame([], PAIR_SCHEMA)

    v = vectors.select(F.col(id_col).cast("long").alias("id"),
                       F.col(vec_col).cast("array<double>").alias("v"))
    keys = assign.select("id", "cluster")
    if not keys_checkpointed:
        keys = keys.localCheckpoint(eager=False)
    a, b = keys.alias("a"), keys.alias("b")
    pairs = (a.join(b, (F.col("a.cluster") == F.col("b.cluster"))
                    & (F.col("a.id") < F.col("b.id")))
             .select(F.col("a.cluster").alias("cluster"),
                     F.col("a.id").alias("id_a"),
                     F.col("b.id").alias("id_b")))
    cand = (pairs
            .join(v.select(F.col("id").alias("id_a"),
                           F.col("v").alias("va")), "id_a")
            .join(v.select(F.col("id").alias("id_b"),
                           F.col("v").alias("vb")), "id_b"))
    cos_sim = _cos_sim_udf()
    return (cand.select("cluster", "id_a", "id_b",
                        F.round(cos_sim("va", "vb"), 6).alias("cos_sim"))
            .where(F.col("cos_sim") >= threshold))


def semantic_dup_pairs_grouped(vectors: DataFrame, threshold: float,
                               n_clusters: int = 8,
                               centroids: np.ndarray | None = None,
                               sample_size: int = 2048, seed: int = 13,
                               id_col: str = "vec_id",
                               vec_col: str = "embedding",
                               assign: DataFrame | None = None
                               ) -> DataFrame:
    """Per-cluster GROUPED scoring variant of ``semantic_dup_pairs``
    (VERDICT r04 #6): one ``applyInPandas`` per cluster scores the
    whole within-cluster similarity matrix in a single BLAS pass —
    no same-cluster id-pair materialization and no per-pair payload
    join, which the join form pays BEFORE the threshold cut (its
    candidate set is quadratic in cluster size even when almost
    nothing survives). This is the right shape for the tight-cluster
    regime SemDeDup targets (the paper's ~100k clusters over
    billions of rows keep |cluster| small); each task holds one
    cluster's |c|×dim block plus its |c|² similarity matrix, so for
    DEGENERATE clustering (a catch-all cluster with millions of
    members) keep the join form, whose pairs spill to the shuffle
    instead of one task's heap — same pairing as ivf vs brute in
    simsearch. Emits the same (cluster, id_a, id_b, cos_sim) rows,
    id_a < id_b, rounded to 6 decimals."""
    assign = _ensure_assign(vectors, n_clusters, centroids, sample_size,
                            seed, id_col, vec_col, assign)
    if assign is None:
        return vectors.sparkSession.createDataFrame([], PAIR_SCHEMA)

    v = vectors.select(F.col(id_col).cast("long").alias("id"),
                       F.col(vec_col).cast("array<double>").alias("v"))
    data = v.join(assign.select("id", "cluster"), "id")

    def score(key, pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame(
                {"cluster": pd.Series([], dtype="int32"),
                 "id_a": pd.Series([], dtype="int64"),
                 "id_b": pd.Series([], dtype="int64"),
                 "cos_sim": pd.Series([], dtype="float64")})
        ids = pdf["id"].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        x = np.stack([np.asarray(r, "float64")
                      for r in pdf["v"].to_numpy()])[order]
        xn = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True),
                            1e-300)
        sims = xn @ xn.T
        iu, ju = np.triu_indices(n, k=1)
        # HALF-UP rounding (floor(x*1e6 + 0.5)) to match the join
        # form's F.round tie direction — np.round is half-to-EVEN, so
        # a similarity landing exactly on a .5e-6 tie would round
        # differently between pair_method settings and flip a pair at
        # the threshold boundary. Residual divergence class: values
        # whose decimal expansion sits within ~1 ulp of the tie (the
        # scaled multiply is float, Spark's BigDecimal path is
        # decimal-exact) — measure-zero for real cosine data, noted
        # in test_grouped_pairs_equal_join_pairs.
        s = np.floor(sims[iu, ju] * 1e6 + 0.5) / 1e6
        m = s >= threshold
        return pd.DataFrame({
            "cluster": np.full(int(m.sum()), key[0], dtype="int32"),
            "id_a": ids[iu[m]], "id_b": ids[ju[m]], "cos_sim": s[m]})

    return data.groupBy("cluster").applyInPandas(score, PAIR_SCHEMA)


def semantic_dedup(vectors: DataFrame, threshold: float,
                   n_clusters: int = 8,
                   centroids: np.ndarray | None = None,
                   sample_size: int = 2048, seed: int = 13,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding",
                   max_iter: int = 25,
                   pair_method: str = "join") -> DataFrame:
    """Full SemDeDup verdict per vector: (id, cluster, centroid_sim,
    group_id, keep). Duplicate groups are connected components of the
    within-cluster pair graph (``connected_components``: large-star/
    small-star rounds until the edge set is an exact star forest); each
    group keeps exactly the member with the LOWEST centroid similarity
    (paper §3 keep policy; ties -> lowest id). Vectors in no pair are
    singleton groups with keep=1.

    Components run at pair scale; the verdict is one window over
    groups (singletons hit tiny partitions) and one id-shuffle join
    back to the corpus. ``pair_method``: "join" (pair-materializing
    equi-join — the oversized-cluster fallback) or "grouped"
    (per-cluster applyInPandas BLAS pass — the tight-cluster fast
    path; see ``semantic_dup_pairs_grouped``)."""
    if pair_method not in ("join", "grouped"):
        raise ValueError(f"unknown pair_method {pair_method!r}")
    if centroids is None:
        centroids = _default_centroids(vectors, id_col, vec_col,
                                       n_clusters, sample_size, seed)
        if centroids is None:        # empty corpus
            return vectors.sparkSession.createDataFrame(
                [], VERDICT_SCHEMA)

    assign = semantic_assign(vectors, centroids, id_col, vec_col) \
        .localCheckpoint(eager=False)
    pair_fn = (semantic_dup_pairs if pair_method == "join"
               else semantic_dup_pairs_grouped)
    pairs = pair_fn(vectors, threshold, centroids=centroids,
                    id_col=id_col, vec_col=vec_col, assign=assign)
    comp = connected_components(pairs.select("id_a", "id_b"),
                                max_iter=max_iter)
    base = (assign
            .join(comp.withColumnRenamed("node", "id"), "id", "left")
            .select("id", "cluster", "centroid_sim",
                    F.coalesce("cluster_id", F.col("id"))
                    .alias("group_id")))
    # keep = min-by-struct (centroid_sim, id) per group — the paper's
    # lowest-centroid-similarity keep policy, ties -> lowest id — as a
    # map-side-combinable aggregate + group-key join instead of a
    # per-group row_number window: the rank is projected (not
    # filtered), so WindowGroupLimit could never bound a mega
    # duplicate group's single-task sort (same de-skew as
    # resolve_dup_clusters / the passage canonical pick)
    canon = (base.groupBy("group_id")
             .agg(F.min(F.struct(F.col("centroid_sim").alias("cs"),
                                 F.col("id").alias("cid")))
                  .alias("_c")))
    return (base.join(canon, "group_id")
            .select("id", "cluster", "centroid_sim", "group_id",
                    (F.col("_c.cid") == F.col("id")).cast("int")
                    .alias("keep")))
