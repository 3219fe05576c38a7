"""SemDeDup: routing/pair/verdict parity against a numpy brute-force
oracle, keep-policy semantics, determinism, empty input."""
import numpy as np
import pandas as pd
import pytest

from apollon_spark.ml import semdedup


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.default_rng(21)
    # tight clusters so semantic dups exist within clusters
    centers = rng.standard_normal((4, 12)) * 4
    vecs = np.concatenate([
        c + 0.15 * rng.standard_normal((30, 12)) for c in centers])
    pdf = pd.DataFrame({"vec_id": np.arange(len(vecs), dtype="int64"),
                        "embedding": list(vecs)})
    return spark.createDataFrame(pdf), vecs


@pytest.fixture(scope="module")
def planted(spark):
    """One planted cluster of 2.5 scoring tiles (8-d): 320 random
    directions plus a near-copy of each, rows shuffled so duplicate
    pairs land both inside one tile and across tiles. Centroid 0 is the
    mass's mean, centroid 1 is far away, so every vector routes to
    cluster 0."""
    n = semdedup._TILE * 5 // 2
    rng = np.random.default_rng(8)
    base = rng.standard_normal((n // 2, 8)) + 3.0
    vecs = np.concatenate([base, base + 1e-3 * rng.standard_normal(
        base.shape)])[rng.permutation(n)]
    pdf = pd.DataFrame({"vec_id": np.arange(n, dtype="int64"),
                        "embedding": list(vecs)})
    cents = np.stack([vecs.mean(axis=0), -10.0 * np.ones(8)])
    return spark.createDataFrame(pdf), vecs, cents


def _brute(vecs, centroids, threshold):
    """Numpy oracle: (assign, centroid_sim, same-cluster pairs >= thr)."""
    c = np.asarray(centroids, "float64")
    d2 = ((vecs[:, None, :] - c[None, :, :]) ** 2).sum(-1)
    cl = d2.argmin(axis=1)
    vn = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    cn = c / np.linalg.norm(c, axis=1, keepdims=True)
    csim = np.einsum("ij,ij->i", vn, cn[cl])
    sims = vn @ vn.T
    # vectorized prefilter, then the scalar round() decides
    iu, ju = np.triu_indices(len(vecs), k=1)
    near = (cl[iu] == cl[ju]) & (sims[iu, ju] >= threshold - 1e-6)
    pairs = {}
    for i, j in zip(iu[near].tolist(), ju[near].tolist()):
        if round(sims[i, j], 6) >= threshold:
            pairs[(i, j)] = round(sims[i, j], 6)
    return cl, csim, pairs


def _assert_pairs_match(df, vecs, cents, threshold):
    got = semdedup.semantic_dup_pairs(df, threshold,
                                      centroids=cents).toPandas()
    cl, _, want = _brute(vecs, cents, threshold)
    got_pairs = {(int(r.id_a), int(r.id_b)): r.cos_sim
                 for r in got.itertuples()}
    assert len(got_pairs) == len(got)   # no pair emitted twice
    assert got_pairs.keys() == want.keys()
    for k, v in want.items():
        assert abs(got_pairs[k] - v) < 1e-9
    # every pair really is same-cluster
    for r in got.itertuples():
        assert cl[int(r.id_a)] == cl[int(r.id_b)] == r.cluster
    assert len(want) > 0  # fixture actually exercises the path
    return want


def test_assign_matches_numpy(spark, emb):
    df, vecs = emb
    cents = vecs[:5]
    got = semdedup.semantic_assign(df, cents).toPandas() \
        .sort_values("id").reset_index(drop=True)
    cl, csim, _ = _brute(vecs, cents, 1.1)
    assert got["cluster"].tolist() == cl.tolist()
    np.testing.assert_allclose(got["centroid_sim"], csim, rtol=0,
                               atol=1e-12)


def test_dup_pairs_match_numpy(spark, emb):
    df, vecs = emb
    _assert_pairs_match(df, vecs, vecs[:5], 0.9)


def test_dup_pairs_cross_tile_match_numpy(spark, planted):
    """A cluster larger than two scoring tiles: pairs inside the
    diagonal tiles and across tiles all match the oracle, none twice."""
    df, vecs, cents = planted
    want = _assert_pairs_match(df, vecs, cents, 0.98)
    t = semdedup._TILE
    tiles = {(i // t, j // t) for i, j in want}
    assert any(a == b for a, b in tiles) and any(a != b for a, b in tiles)


def test_cluster_pairs_memory_is_tiled():
    """Scoring one n = 4096 cluster must peak well below one n×n
    float64 similarity matrix (a quarter of it here): memory is
    O(n·dim + tile·n), not O(n²)."""
    import tracemalloc

    n = 4096
    rng = np.random.default_rng(3)
    x = rng.standard_normal((n, 8))
    x[-1] = x[0]                      # one pair across first/last tile
    ids = np.arange(n, dtype="int64")
    tracemalloc.start()
    try:
        a, b, s = semdedup._cluster_pairs(ids, x, 0.999)
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert peak < n * n * 8 / 4, peak
    assert (0, n - 1) in set(zip(a.tolist(), b.tolist()))
    assert (a < b).all() and (s >= 0.999).all()


def test_cluster_pairs_zero_norm_scores_zero():
    """A zero vector scores 0 against everything (never NaN): at
    threshold 0 it pairs with every other row at cos_sim 0.0."""
    x = np.array([[0.0, 0.0], [1.0, 0.0], [2.0, 0.0]])
    a, b, s = semdedup._cluster_pairs(np.array([5, 7, 9]), x, 0.0)
    got = dict(zip(zip(a.tolist(), b.tolist()), s.tolist()))
    assert got == {(5, 7): 0.0, (5, 9): 0.0, (7, 9): 1.0}


def test_semantic_dedup_builds_without_user_warning(spark, emb):
    """applyInPandas warns when it cannot infer an eval type from
    partial type hints; the grouped scorer must not trigger it."""
    import warnings

    df, vecs = emb
    with warnings.catch_warnings():
        warnings.simplefilter("error", UserWarning)
        semdedup.semantic_dedup(df, 0.9, centroids=vecs[:5])


def test_dedup_verdict(spark, emb):
    df, vecs = emb
    cents = vecs[:5]
    out = semdedup.semantic_dedup(df, 0.9, centroids=cents).toPandas() \
        .sort_values("id").reset_index(drop=True)
    assert len(out) == len(vecs)  # every vector gets a verdict
    cl, csim, pairs = _brute(vecs, cents, 0.9)

    # union-find oracle for groups
    parent = list(range(len(vecs)))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for (i, j) in pairs:
        parent[find(i)] = find(j)
    groups = {}
    for i in range(len(vecs)):
        groups.setdefault(find(i), []).append(i)

    got_groups = {}
    for r in out.itertuples():
        got_groups.setdefault(r.group_id, set()).add(int(r.id))
    assert sorted(map(frozenset, got_groups.values())) \
        == sorted(frozenset(m) for m in groups.values())

    # exactly one keep per group, and it's the min-centroid_sim member
    for members in groups.values():
        sub = out[out["id"].isin(members)]
        assert sub["keep"].sum() == 1
        kept = int(sub.loc[sub["keep"] == 1, "id"].iloc[0])
        best = min(members, key=lambda i: (csim[i], i))
        assert kept == best

    np.testing.assert_allclose(out["centroid_sim"], csim, rtol=0,
                               atol=1e-12)
    assert out["cluster"].tolist() == cl.tolist()


def test_default_kmeans_path_deterministic(spark, emb):
    df, _ = emb
    a = semdedup.semantic_dedup(df, 0.9, n_clusters=4).toPandas() \
        .sort_values("id").reset_index(drop=True)
    b = semdedup.semantic_dedup(df, 0.9, n_clusters=4).toPandas() \
        .sort_values("id").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)
    assert a["keep"].sum() < len(a)  # dedup actually dropped something


def test_empty_input(spark):
    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<double>")
    cents = np.eye(3, 8)
    assert semdedup.semantic_dup_pairs(empty, 0.5, centroids=cents) \
        .count() == 0
    assert semdedup.semantic_dedup(empty, 0.5, centroids=cents).count() == 0


def test_empty_input_default_centroids(spark):
    """The kmeans-training path must short-circuit on an empty corpus
    instead of crashing in np.stack."""
    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<double>")
    assert semdedup.semantic_dup_pairs(empty, 0.5, n_clusters=4) \
        .count() == 0
    out = semdedup.semantic_dedup(empty, 0.5, n_clusters=4)
    assert out.count() == 0
    assert out.columns == ["id", "cluster", "centroid_sim",
                           "group_id", "keep"]
