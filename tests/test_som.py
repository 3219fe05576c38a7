"""SOM: BMU semantics, Hellinger metric, batch-SOM quality, umatrix."""
import numpy as np

from apollon_spark import som


def test_best_match_semantics():
    rng = np.random.default_rng(0)
    w = rng.normal(size=(100, 5))
    x = rng.normal(size=(200, 5))
    bmu, dist = som.best_match(w, x)
    # oracle: explicit argmin over euclidean distances, ties -> first
    d = np.sqrt(((w[:, None, :] - x[None, :, :]) ** 2).sum(-1))
    np.testing.assert_array_equal(bmu, d.argmin(axis=0))
    np.testing.assert_allclose(dist, d.min(axis=0), rtol=1e-9)


def test_hellinger():
    p = np.array([[0.2, 0.8], [0.5, 0.5]])
    q = np.array([[0.2, 0.8], [0.9, 0.1]])
    d = som.hellinger(p, q)
    assert d[0] == 0.0 and d[1] > 0
    # stm variant: mean row-wise over m x m stochastic matrices
    a = np.concatenate([p[0], p[1]])
    b = np.concatenate([q[0], q[1]])
    got = som.hellinger_stm(a, b, 2)
    np.testing.assert_allclose(got, d.mean(), rtol=1e-12)


def _clusters(n=300, seed=1):
    rng = np.random.default_rng(seed)
    centers = np.array([[0, 0], [5, 5], [0, 5], [5, 0]], dtype="float64")
    pts = np.concatenate([
        c + 0.3 * rng.standard_normal((n // 4, 2)) for c in centers])
    return pts


def test_incremental_fit_quality_decreases():
    data = _clusters()
    p = som.SomParams(5, 5, n_iter=5, eta_start=0.5, init="rnd", seed=10)
    w, qerr = som.incremental_fit(data, p)
    assert qerr[-1] < qerr[0]
    assert qerr[-1] < 1.0


def test_incremental_kdtree_fit_semantics():
    """KD-tree variant (som/som.py:348-379): converges on clustered
    data, and a hand-rolled oracle of the reference's loop — Chebyshev
    ball neighborhood, UNIFORM exp(-1/r)*eta kernel (the quirk: grid
    distances commented out, dists=ones) — reproduces the weights
    bit-for-bit given the same seed and schedule."""
    data = _clusters()
    p = som.SomParams(5, 5, n_iter=4, eta_start=0.5, init="rnd", seed=10)
    w, qerr = som.incremental_kdtree_fit(data, p)
    assert qerr[-1] < qerr[0] and qerr[-1] < 1.0

    # oracle re-implementation: the cKDTree query_ball_point(p=inf)
    # of the reference (som/som.py:29-39) IS the Chebyshev ball, so the
    # oracle derives membership per sample from raw lattice coords
    # (no grid_dists sharing with the implementation), per-unit scalar
    # loop for the update
    np.random.seed(p.seed)
    pos = np.array([(r, c) for r in range(5) for c in range(5)], "float64")
    w2 = som.init_weights("rnd", (5, 5, 2), data, p.seed)
    # endpoint-inclusive per decrease_linear (som/utilities.py:46-57):
    # last epoch eta == 0, a no-op update round (ADVICE r03 fix)
    etas = np.linspace(0.5, 0.0, p.n_iter)
    nhr0 = 5 / 2.0
    for epoch in range(p.n_iter):
        radius = max(nhr0 * (1.0 / nhr0) ** (epoch / (p.n_iter - 1)), 1.0)
        for i in np.random.permutation(len(data)):
            x = data[i]
            bmu, _ = som.best_match(w2, x, p.metric)
            kern = np.exp(-1.0 / radius) * etas[epoch]
            for u in range(25):
                if max(abs(pos[u][0] - pos[bmu[0]][0]),
                       abs(pos[u][1] - pos[bmu[0]][1])) <= radius:
                    w2[u] += (x - w2[u]) * kern
    np.testing.assert_array_equal(w, w2)


def test_batch_som_spark_quality(spark):
    import pandas as pd
    data = _clusters(400)
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(len(data)), "vec": list(data)}))
    p = som.SomParams(4, 4, n_iter=5, init="rnd", seed=10)
    weights, qerr = som.fit_batch_som(df, "vec", p)
    assert weights.shape == (16, 2)
    assert qerr[-1] < qerr[0]
    assert qerr[-1] < 1.0
    # BMU assignment covers all rows and distances agree with local calc
    assigned = som.assign_bmu(df, "vec", weights).toPandas()
    assert len(assigned) == len(data)
    bmu, dist = som.best_match(weights, data)
    got = assigned.sort_values("vec_id")
    np.testing.assert_array_equal(got["bmu"].to_numpy(), bmu)
    np.testing.assert_allclose(got["bmu_dist"].to_numpy(), dist, rtol=1e-9)


def test_batch_som_qerr_monotone_after_reorg(spark):
    """Quantization-error behavior at realistic n_iter (VERDICT r01
    item 9, investigated): with init='rnd' the initial weights are
    sampled data rows, so epoch 0's qerr is artificially low; the
    first wide-radius batch update then smears every unit toward the
    global mean (qerr jumps) — the standard batch-SOM radius-schedule
    effect, not a defect. The invariant that must hold: strictly
    non-increasing qerr from epoch 1 onward, and a final qerr well
    under the post-reorganization level."""
    import pandas as pd
    data = _clusters(400)
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(len(data)), "vec": list(data)}))
    p = som.SomParams(4, 4, n_iter=10, init="rnd", seed=10)
    _, qerr = som.fit_batch_som(df, "vec", p)
    assert len(qerr) == 10
    for prev, cur in zip(qerr[1:], qerr[2:]):
        assert cur <= prev + 1e-9, qerr
    assert qerr[-1] < 0.6 * qerr[1]


def test_vn_neighbourhood_matches_reference_semantics():
    """Corner/edge/interior cases of som/topologies.py:19-51, and
    equivalence with the star kernel at radius 1 (star additionally
    includes the center cell)."""
    assert sorted(som.vn_neighbourhood(0, 0, 3, 3)) == [(0, 1), (1, 0)]
    assert sorted(som.vn_neighbourhood(1, 0, 3, 3)) == \
        [(0, 0), (1, 1), (2, 0)]
    assert sorted(som.vn_neighbourhood(1, 1, 3, 3)) == \
        [(0, 1), (1, 0), (1, 2), (2, 1)]
    flat = som.vn_neighbourhood(1, 1, 3, 3, flat=True)
    assert sorted(flat) == [1, 3, 5, 7]
    # star kernel at r=1 == VN neighbourhood + the center itself
    grid = som.SomGrid(3, 3)
    gd = som.grid_dists(grid, "cityblock")
    star = som.star_kernel(gd[4], 1.0)          # unit 4 = (1, 1)
    on = set(np.flatnonzero(star))
    assert on == set(flat) | {4}


def test_umatrix_shape_and_range():
    rng = np.random.default_rng(2)
    w = rng.normal(size=(16, 3))
    u = som.umatrix(w, som.SomGrid(4, 4))
    assert u.shape == (4, 4)
    assert u.max() <= 1.0 + 1e-12 and u.min() >= 0.0


def test_init_weights_deterministic():
    a = som.init_weights("rnd", (4, 4, 3), np.zeros((10, 3)), seed=10)
    b = som.init_weights("rnd", (4, 4, 3), np.zeros((10, 3)), seed=10)
    np.testing.assert_array_equal(a, b)
    stm = som.init_weights("stm", (2, 2, 9), seed=10)
    np.testing.assert_allclose(stm.reshape(4, 3, 3).sum(-1), 1.0, atol=1e-12)


def test_calibration_family(spark):
    """distribute/match_2d/transform_weights over a BMU assignment."""
    import pandas as pd
    from apollon_spark.som import (distribute, match_2d, match_flat,
                                   transform_weights)
    rows = spark.createDataFrame(pd.DataFrame({
        "vec_id": [0, 1, 2, 3], "bmu": [2, 2, 5, 0]}))
    d = distribute(rows).orderBy("unit").toPandas()
    assert list(d["unit"]) == [0, 2, 5]
    assert list(d.loc[d["unit"] == 2, "matched_ids"].iloc[0]) == [0, 1]
    m = match_2d(rows, n_cols=3).orderBy("vec_id").toPandas()
    assert list(m["bmu_row"]) == [0, 0, 1, 0]
    assert list(m["bmu_col"]) == [2, 2, 2, 0]
    flat = match_flat(rows).orderBy("vec_id").toPandas()
    np.testing.assert_array_equal(
        flat["bmu"], np.ravel_multi_index((m["bmu_row"], m["bmu_col"]), (2, 3)))
    w = np.arange(12, dtype="float64").reshape(6, 2)
    t = transform_weights(rows, w).orderBy("vec_id").toPandas()
    assert list(t.loc[0, "bmu_weights"]) == [4.0, 5.0]
    assert list(t.loc[3, "bmu_weights"]) == [0.0, 1.0]


def test_vn_neighbourhood_empty_flat():
    assert som.vn_neighbourhood(0, 0, 1, 1) == []
    flat = som.vn_neighbourhood(0, 0, 1, 1, flat=True)
    assert len(flat) == 0


def test_assign_bmu_round_scale_is_half_up(spark):
    """round_scale rounds half-up like the DuckDB oracle's round(), not
    half-to-even like np.round. Unit 0 sits at a planted 2.5e-6
    distance, unit 1 at 2.2e-6: half-even rounds both to 2e-6 and the
    unit tiebreak picks 0; half-up rounds unit 0 to 3e-6 and picks 1."""
    import duckdb
    import pandas as pd
    weights = np.array([[2.5e-6], [-2.2e-6]])
    df = spark.createDataFrame(pd.DataFrame({
        "vec_id": [0], "vec": [np.array([0.0])]}))
    got = som.assign_bmu(df, "vec", weights, round_scale=6).collect()[0]
    want = duckdb.sql("SELECT round(2.5e-6::DOUBLE, 6) AS d0, "
                      "round(2.2e-6::DOUBLE, 6) AS d1").fetchone()
    assert want == (3e-6, 2e-6)
    assert got["bmu"] == 1
    assert got["bmu_dist"] == want[1]


def test_batch_som_partitioning_and_repeat_determinism(spark, monkeypatch):
    """fit_batch_som sums one partial per partition on the driver, in
    partition order: a different partitioning changes only the float
    summation order (weights agree to 1e-12), and two fits on one
    partitioning are bit-identical. The stm init reads no data: its
    fit runs no limit() sample job and equals the fit pinned to the
    seed's stm weights."""
    import pandas as pd
    data = _clusters(400)
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(len(data)), "vec": list(data)}))
    p = som.SomParams(4, 4, n_iter=5, init="rnd", seed=10)
    one = df.coalesce(1).cache()
    five = df.repartition(5, "vec_id").cache()
    # init='rnd' samples rows via limit(): pin w0 so both partitionings
    # start from the same weights
    w0 = som.init_weights("rnd", (4, 4, 2), data, 10)
    w1, q1 = som.fit_batch_som(one, "vec", p, w0=w0)
    w5, q5 = som.fit_batch_som(five, "vec", p, w0=w0)
    np.testing.assert_allclose(w1, w5, rtol=0, atol=1e-12)
    np.testing.assert_allclose(q1, q5, rtol=0, atol=1e-12)
    w5b, q5b = som.fit_batch_som(five, "vec", p, w0=w0)
    assert w5.tobytes() == w5b.tobytes() and q5 == q5b
    one.unpersist()
    five.unpersist()

    # rows of 2x2 stochastic matrices, the stm init's domain
    rng = np.random.default_rng(3)
    stoch = np.concatenate([rng.dirichlet(np.ones(2), 200),
                            rng.dirichlet(np.ones(2), 200)], axis=1)
    sdf = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(200), "vec": list(stoch)}))
    ps = som.SomParams(3, 3, n_iter=3, init="stm", seed=10)

    limits, real_limit = [], type(sdf).limit

    def spy(self, num):
        limits.append(num)
        return real_limit(self, num)

    with monkeypatch.context() as m:
        m.setattr(type(sdf), "limit", spy)
        ws, qs = som.fit_batch_som(sdf, "vec", ps, sample_init=50)
    # first()'s one-row dimension probe is the only limit
    assert limits == [1]
    wp, qp = som.fit_batch_som(
        sdf, "vec", ps, w0=som.init_weights("stm", (3, 3, 4), seed=10))
    assert ws.tobytes() == wp.tobytes() and qs == qp
