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
  pass over the corpus (no shuffle) that carries each vector on to
  the scorer.
- Pairs are mined by ONE per-cluster ``applyInPandas`` BLAS scorer
  (no candidate id-pair shuffle, no payload join): each
  cluster is scored in fixed row tiles, so a task holds |c|×dim plus
  one tile×|c| block, never the |c|² matrix.
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
from .simsearch import kmeans_centroids

PAIR_SCHEMA = "cluster int, id_a long, id_b long, cos_sim double"
VERDICT_SCHEMA = ("id long, cluster int, centroid_sim double, "
                  "group_id long, keep int")
# rows per scoring tile in ``_cluster_pairs``: one tile is a
# _TILE × |cluster| float64 block (2 MB per 1k members)
_TILE = 256


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
    centroids broadcast: (id, cluster, centroid_sim, v). The vector
    rides along as ``v`` (array<double>) so the per-cluster scorer
    reads it from this pass instead of a second scan and an id join."""
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
            x = np.stack([np.asarray(v, "float64") for v in pdf["v"]])
            d2 = ((x[:, None, :] - cc[None, :, :]) ** 2).sum(-1)
            cl = d2.argmin(axis=1).astype("int32")
            xn = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True),
                                1e-300)
            sim = np.einsum("ij,ij->i", xn, cn[cl])
            yield pd.DataFrame({"id": pdf["id"], "cluster": cl,
                                "centroid_sim": sim, "v": pdf["v"]})

    return vectors.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(vec_col).cast("array<double>").alias("v")).mapInPandas(
        assign, "id long, cluster int, centroid_sim double, v array<double>")


def _cluster_pairs(ids: np.ndarray, x: np.ndarray,
                   threshold: float) -> tuple[np.ndarray, np.ndarray,
                                              np.ndarray]:
    """Every pair of one cluster with cosine >= ``threshold``:
    (id_a, id_b, cos_sim) arrays, id_a < id_b, cos_sim rounded HALF-UP
    to 6 decimals, a zero-norm row scoring 0 against everything.

    Rows are sorted by id and scored in row tiles of ``_TILE``: tile
    ``[i, i+T)`` multiplies against rows ``[i, n)`` only and keeps the
    strict upper triangle, so peak memory is O(|c|·dim + T·|c|) instead
    of the O(|c|²) of one full similarity matrix — a degenerate
    catch-all cluster costs time, not one worker's heap."""
    order = np.argsort(ids)
    ids = ids[order]
    x = x[order]
    xn = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-300)
    out_a, out_b, out_s = [], [], []
    for i in range(0, len(ids), _TILE):
        s = xn[i:i + _TILE] @ xn[i:].T
        # HALF-UP rounding (floor(x*1e6 + 0.5)), in place, to match
        # Spark's F.round / DuckDB round() tie direction — np.round is
        # half-to-EVEN and would flip a pair sitting exactly on a
        # .5e-6 tie at the threshold. Residual divergence class: values
        # within ~1 ulp of a tie (the scaled multiply is float, the SQL
        # engines round decimal-exact) — measure-zero for real data.
        s *= 1e6
        s += 0.5
        np.floor(s, out=s)
        s /= 1e6
        r, c = np.nonzero(s >= threshold)
        up = c > r                   # tile row r is global row i + r
        r, c = r[up], c[up]
        out_a.append(ids[i + r])
        out_b.append(ids[i + c])
        out_s.append(s[r, c])
        del s                        # free before the next tile lands
    return (np.concatenate(out_a), np.concatenate(out_b),
            np.concatenate(out_s))


def _score_clusters(routed: DataFrame, threshold: float) -> DataFrame:
    """One ``applyInPandas`` per cluster over ``semantic_assign``'s
    (id, cluster, v) rows: the tiled BLAS scorer ``_cluster_pairs``."""

    # unannotated on purpose: a partial annotation makes applyInPandas
    # warn that it cannot infer the eval type from the hints
    def score(key, pdf):
        x = np.stack([np.asarray(r, "float64") for r in pdf["v"]])
        a, b, s = _cluster_pairs(pdf["id"].to_numpy(), x, threshold)
        return pd.DataFrame({
            "cluster": np.full(len(a), key[0], dtype="int32"),
            "id_a": a, "id_b": b, "cos_sim": s})

    return routed.select("id", "cluster", "v").groupBy("cluster") \
        .applyInPandas(score, PAIR_SCHEMA)


def semantic_dup_pairs(vectors: DataFrame, threshold: float,
                       n_clusters: int = 8,
                       centroids: np.ndarray | None = None,
                       sample_size: int = 2048, seed: int = 13,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding") -> DataFrame:
    """Within-cluster near-duplicate pairs: (cluster, id_a, id_b,
    cos_sim) for every same-cluster pair with cosine >= ``threshold``,
    id_a < id_b, cos_sim rounded half-up to 6 decimals.

    ``centroids`` overrides the kmeans++ training with explicit
    vectors, making the stage a deterministic function of its inputs —
    the contract gate passes the first rows of the corpus so the SQL
    oracle can re-derive routing and scoring exactly (same device as
    ``ivf_candidates``/``som_train``).

    The routing pass carries each vector into one ``applyInPandas``
    per cluster, which scores the cluster in BLAS row tiles
    (``_cluster_pairs``): one scan of the vector table, no id join, no
    same-cluster id-pair materialization, and a task holds one
    cluster's |c|×dim block plus one ``_TILE``×|c| tile. A
    pair-materializing self-join was measured ~12× slower on exactly
    the oversized clusters it was meant to serve (SCALE.md §6i), so
    this is the only miner."""
    if centroids is None:
        centroids = _default_centroids(vectors, id_col, vec_col,
                                       n_clusters, sample_size, seed)
        if centroids is None:        # empty corpus
            return vectors.sparkSession.createDataFrame([], PAIR_SCHEMA)
    return _score_clusters(
        semantic_assign(vectors, centroids, id_col, vec_col), threshold)


def semantic_dedup(vectors: DataFrame, threshold: float,
                   n_clusters: int = 8,
                   centroids: np.ndarray | None = None,
                   sample_size: int = 2048, seed: int = 13,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding",
                   max_iter: int = 25) -> DataFrame:
    """Full SemDeDup verdict per vector: (id, cluster, centroid_sim,
    group_id, keep). Duplicate groups are connected components of the
    within-cluster pair graph (``connected_components``: large-star/
    small-star rounds until the edge set is an exact star forest); each
    group keeps exactly the member with the LOWEST centroid similarity
    (paper §3 keep policy; ties -> lowest id). Vectors in no pair are
    singleton groups with keep=1.

    One routing plan feeds both the per-cluster tiled BLAS scorer
    (the one pair miner) and the verdict table, whose (id, cluster,
    centroid_sim) columns are checkpointed without the vectors: the
    vector table is scanned once for the pairs and once for the
    checkpoint, and no id join brings payloads back. Components run at
    pair scale; the keep pick is one min-by-struct aggregate over
    groups and one join back on the group key."""
    if centroids is None:
        centroids = _default_centroids(vectors, id_col, vec_col,
                                       n_clusters, sample_size, seed)
        if centroids is None:        # empty corpus
            return vectors.sparkSession.createDataFrame(
                [], VERDICT_SCHEMA)

    routed = semantic_assign(vectors, centroids, id_col, vec_col)
    assign = routed.select("id", "cluster", "centroid_sim") \
        .localCheckpoint(eager=False)
    pairs = _score_clusters(routed, threshold)
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
