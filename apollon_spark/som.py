"""Self-organizing map sequence descriptors (SURVEY §2.8, §3.3).

The reference's ``IncrementalMap`` is an inherently sequential Kohonen
loop (som/som.py:314-345: per-row weight updates in permutation order).
That cannot scale, so the engine implements BATCH SOM — the math the
reference itself sketches in its commented-out ``_batch_update``
(som/som.py:381-399): per epoch, every input row is assigned its BMU
with the CURRENT weights, and new weights are the neighborhood-kernel-
weighted mean ``w_u = sum_i h(bmu_i, u) x_i / sum_i h(bmu_i, u)``.

Distribution: weights are a small (n_units x dim) matrix broadcast to
executors each epoch; one ``mapInPandas`` pass computes per-partition
partials ``(sum h.x, sum h)`` for every unit, one row per
partition; the driver sums them and updates. An epoch is one scan
and one job — no shuffle.

A driver-side ``incremental_fit`` reproduces the reference's exact
sequential semantics (fixed np.random.seed(10), som/som.py:327) for
small-scale parity.
"""
from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# Grid + kernels (som/som.py:20-63, som/neighbors.py:24-104)
# ---------------------------------------------------------------------------

@dataclass
class SomGrid:
    n_rows: int
    n_cols: int

    @property
    def n_units(self) -> int:
        return self.n_rows * self.n_cols

    @property
    def positions(self) -> np.ndarray:
        """(n_units, 2) lattice coordinates, row-major."""
        rr, cc = np.meshgrid(np.arange(self.n_rows), np.arange(self.n_cols),
                             indexing="ij")
        return np.stack([rr.ravel(), cc.ravel()], axis=1).astype("float64")


def grid_dists(grid: SomGrid, metric: str = "euclidean") -> np.ndarray:
    """(n_units, n_units) lattice distances. The reference's kernels
    measure the grid with different metrics (som/neighbors.py:24-104):
    gaussian/mexican use euclidean, 'star' uses cityblock, 'rect' uses
    chebyshev."""
    pos = grid.positions
    diff = pos[:, None, :] - pos[None, :, :]
    if metric == "euclidean":
        return np.sqrt((diff ** 2).sum(-1))
    if metric == "cityblock":
        return np.abs(diff).sum(-1)
    if metric == "chebyshev":
        return np.abs(diff).max(-1)
    raise ValueError(metric)


def gauss_kernel(dists: np.ndarray, radius: float) -> np.ndarray:
    """exp(-d^2 / (2 r^2)) (som/neighbors.py gaussian)."""
    return np.exp(-np.square(dists) / (2.0 * radius * radius))


def mexican_kernel(dists: np.ndarray, radius: float) -> np.ndarray:
    """Ricker wavelet neighborhood."""
    a = np.square(dists) / (radius * radius)
    return (1.0 - a) * np.exp(-a / 2.0)


def star_kernel(dists_cityblock: np.ndarray, radius: float) -> np.ndarray:
    """Von-Neumann-star neighborhood: cityblock distance <= r."""
    return (dists_cityblock <= radius).astype("float64")


def rect_kernel(dists_cheb: np.ndarray, radius: float) -> np.ndarray:
    """Rectangular neighborhood: chebyshev distance <= r."""
    return (dists_cheb <= radius).astype("float64")


def vn_neighbourhood(x: int, y: int, dx: int, dy: int,
                     flat: bool = False):
    """Von Neumann 4-neighbourhood of (x, y) on a (dx, dy) lattice
    (som/topologies.py:19-51) — the explicit util behind the star
    kernel at radius 1 (which adds the center cell itself).

    Returns a list of (x, y) tuples, or flat raveled indices when
    ``flat`` is True."""
    nh = [(x - 1, y), (x + 1, y), (x, y - 1), (x, y + 1)]
    nh = [(i, j) for i, j in nh if 0 <= i < dx and 0 <= j < dy]
    if flat:
        if not nh:                      # 1x1 lattice: no neighbours
            return np.array([], dtype=np.intp)
        return np.ravel_multi_index(np.array(nh).T, (dx, dy))
    return nh


KERNELS = {"gaussian": gauss_kernel, "mexican": mexican_kernel,
           "star": star_kernel, "rect": rect_kernel}

# which lattice metric each kernel measures (som/neighbors.py:24-104)
KERNEL_GRID_METRIC = {"gaussian": "euclidean", "mexican": "euclidean",
                      "star": "cityblock", "rect": "chebyshev"}


# ---------------------------------------------------------------------------
# Metrics + BMU (som/utilities.py:79-115)
# ---------------------------------------------------------------------------

def cdist(a: np.ndarray, b: np.ndarray, metric: str = "euclidean") -> np.ndarray:
    """(len(a), len(b)) pairwise distances — numpy replacement for
    scipy.spatial.distance.cdist for the metrics the reference uses."""
    if metric == "euclidean":
        aa = np.einsum("ij,ij->i", a, a)[:, None]
        bb = np.einsum("ij,ij->i", b, b)[None, :]
        return np.sqrt(np.maximum(aa + bb - 2.0 * (a @ b.T), 0.0))
    if metric == "cityblock":
        return np.abs(a[:, None, :] - b[None, :, :]).sum(-1)
    if metric == "hellinger":
        return hellinger_cdist(a, b)
    raise ValueError(f"unknown metric {metric!r}")


def hellinger(p: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Row-wise Hellinger distance sqrt(0.5 * sum (sqrt(p)-sqrt(q))^2)
    (reference C kernel som/distance.c:13-26)."""
    return np.sqrt(0.5 * np.square(np.sqrt(p) - np.sqrt(q)).sum(-1))


def hellinger_stm(stma: np.ndarray, stmb: np.ndarray, m: int) -> float:
    """Mean row-wise Hellinger distance between two flattened m x m
    stochastic matrices (som/_distance_module.c hellinger_stm) — the
    SOM metric for comparing HMM transition matrices."""
    pa, pb = stma.reshape(m, m), stmb.reshape(m, m)
    return float(hellinger(pa, pb).mean())


def hellinger_cdist(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Pairwise hellinger_stm over flattened stochastic matrices; the
    row length must be a perfect square."""
    m = int(round(np.sqrt(a.shape[1])))
    ra = np.sqrt(a.reshape(len(a), m, m))
    rb = np.sqrt(b.reshape(len(b), m, m))
    d = ra[:, None, :, :] - rb[None, :, :, :]
    return np.sqrt(0.5 * np.square(d).sum(-1)).mean(-1)


def best_match(weights: np.ndarray, inp: np.ndarray,
               metric: str = "euclidean") -> tuple[np.ndarray, np.ndarray]:
    """BMU index + distance per input row (som/utilities.py:79-115:
    cdist(weights, inp).argmin(axis=0), ties -> first unit)."""
    d = cdist(weights, np.atleast_2d(inp), metric)
    return d.argmin(axis=0), d.min(axis=0)


# ---------------------------------------------------------------------------
# Weight init (som/utilities.py:118-222)
# ---------------------------------------------------------------------------

def init_weights(method: str, dims: tuple[int, int, int],
                 data: np.ndarray | None = None,
                 seed: int = 10) -> np.ndarray:
    n_rows, n_cols, d = dims
    n_units = n_rows * n_cols
    rng = np.random.default_rng(seed)
    if method == "rnd":
        lo = data.min(axis=0) if data is not None else np.zeros(d)
        hi = data.max(axis=0) if data is not None else np.ones(d)
        return rng.uniform(lo, hi, (n_units, d))
    if method == "stm":
        # rows of Dirichlet-sampled stochastic matrices (for Gamma-SOMs)
        m = int(round(np.sqrt(d)))
        out = np.empty((n_units, d))
        for i in range(n_units):
            out[i] = np.concatenate(
                [rng.dirichlet(np.ones(m)) for _ in range(m)])
        return out
    if method == "hist":
        out = rng.dirichlet(np.ones(d), n_units)
        return out
    if method == "pca":
        if data is None:
            raise ValueError("pca init needs data")
        mu = data.mean(axis=0)
        c = data - mu
        _, _, vt = np.linalg.svd(c, full_matrices=False)
        sx = np.linspace(-1, 1, n_rows)
        sy = np.linspace(-1, 1, n_cols)
        scale = c.std(axis=0).mean() * 2
        grid = np.array([[a, b] for a in sx for b in sy])
        return mu + scale * grid @ vt[:2]
    raise ValueError(f"unknown init {method!r}")


# ---------------------------------------------------------------------------
# Batch SOM fit (distributed)
# ---------------------------------------------------------------------------

@dataclass
class SomParams:
    n_rows: int = 10
    n_cols: int = 10
    n_iter: int = 10
    eta_start: float = 0.5            # unused by batch updates; kept for
    nhr_start: float | None = None    # parity with reference params
    kernel: str = "gaussian"
    metric: str = "euclidean"
    init: str = "rnd"
    seed: int = 10


def _decay_radius(p: SomParams, epoch: int) -> float:
    """Exponential radius decay to 1 (som/utilities.py:46-69)."""
    nhr0 = p.nhr_start if p.nhr_start is not None else max(p.n_rows, p.n_cols) / 2.0
    if p.n_iter <= 1:
        return max(nhr0, 1.0)
    return max(nhr0 * (1.0 / nhr0) ** (epoch / (p.n_iter - 1)), 1.0) \
        if nhr0 > 1 else 1.0


def fit_batch_som(vectors: DataFrame, vec_col: str, p: SomParams,
                  sample_init: int = 1024,
                  w0: np.ndarray | None = None
                  ) -> tuple[np.ndarray, list[float]]:
    """Distributed batch-SOM. ``vectors`` has an array<double> column
    ``vec_col``. Returns (weights (n_units, d), per-epoch quantization
    errors). Each epoch = one broadcast + one mapInPandas scan +
    driver-side combine (weights are n_units x d — tiny).

    ``w0``: explicit (n_units, d) initial weights — bypasses the
    sampled init, making the whole fit a deterministic function of the
    input (the ``som_train`` gate's DuckDB oracle re-derives the full
    epoch recursion that way)."""
    first = vectors.select(vec_col).first()
    if first is None:
        raise ValueError("empty input")
    d = len(first[0])
    grid = SomGrid(p.n_rows, p.n_cols)
    gd = grid_dists(grid, KERNEL_GRID_METRIC[p.kernel])
    if w0 is not None:
        if w0.shape != (grid.n_units, d):
            raise ValueError(f"w0 shape {w0.shape} != "
                             f"({grid.n_units}, {d})")
        weights = np.asarray(w0, dtype="float64").copy()
    else:
        # only the rnd and pca inits read data: stm and hist draw from
        # the seed alone, so they run no sample job
        sample = np.array(
            [r[0] for r in
             vectors.select(vec_col).limit(sample_init).collect()]) \
            if p.init in ("rnd", "pca") else None
        weights = init_weights(p.init, (p.n_rows, p.n_cols, d), sample,
                               p.seed)
    kern_fn = KERNELS[p.kernel]
    metric = p.metric
    n_units = grid.n_units
    spark = vectors.sparkSession
    qerrors: list[float] = []

    partial_schema = ("wsum array<double>, hsum array<double>, "
                      "qerr double, n long")

    for epoch in range(p.n_iter):
        radius = _decay_radius(p, epoch)
        h_mat = kern_fn(gd, radius)                   # (n_units, n_units)
        bw = spark.sparkContext.broadcast(
            {"w": weights, "h": h_mat, "metric": metric})

        def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            st = bw.value
            w_, h_ = st["w"], st["h"]
            num = np.zeros_like(w_)
            den = np.zeros(w_.shape[0])
            qe, n = 0.0, 0
            for pdf in batches:
                x = np.stack(pdf[vec_col].to_numpy())
                bmu, dist = best_match(w_, x, st["metric"])
                hh = h_[bmu]                          # (batch, n_units)
                num += hh.T @ x
                den += hh.sum(axis=0)
                qe += float(dist.sum())
                n += len(x)
            # one row per partition: the whole (n_units x d) partial
            yield pd.DataFrame({"wsum": [num.ravel()], "hsum": [den],
                                "qerr": [qe], "n": [n]})

        # one job per epoch: the driver sums the partition partials in
        # partition order (collect keeps it), so a fit is a
        # deterministic function of the input and its partitioning
        partials = (vectors.select(vec_col)
                    .mapInPandas(gen, partial_schema).collect())
        num = np.zeros((n_units, d))
        den = np.zeros(n_units)
        total_q, total_n = 0.0, 0
        for r in partials:
            num += np.asarray(r["wsum"]).reshape(n_units, d)
            den += np.asarray(r["hsum"])
            total_q += r["qerr"]
            total_n += r["n"]
        mask = den > 0
        weights = np.where(mask[:, None], num / np.maximum(den, 1e-300)[:, None],
                           weights)
        qerrors.append(total_q / max(float(total_n), 1.0))
        bw.unpersist()
    return weights, qerrors


def assign_bmu(vectors: DataFrame, vec_col: str, weights: np.ndarray,
               metric: str = "euclidean",
               out_cols: tuple[str, str] = ("bmu", "bmu_dist"),
               round_scale: int | None = None) -> DataFrame:
    """Attach BMU index + distance to every row — broadcast weights,
    vectorized argmin per Arrow batch; never a crossJoin.

    ``round_scale``: round the distances half-up to this many decimals
    BEFORE the argmin (ties -> lowest unit). A determinism knob for
    value-compared outputs: two units whose true distances differ by
    float-sum noise usually round to the SAME grid value and the unit
    tiebreak decides identically everywhere, instead of the raw
    argmin flipping on the noise. The reported distance is the
    rounded one (rounding is monotone, so min-of-rounded ==
    rounded-min)."""
    spark = vectors.sparkSession
    bw = spark.sparkContext.broadcast(
        {"w": weights, "m": metric, "r": round_scale})
    from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType
    schema = StructType(list(vectors.schema.fields)
                        + [StructField(out_cols[0], IntegerType()),
                           StructField(out_cols[1], DoubleType())])

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        st = bw.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.stack(pdf[vec_col].to_numpy())
            if st["r"] is not None:
                d = cdist(st["w"], x, st["m"])
                # HALF-UP, as DuckDB round(): np.round is half-even
                scale = 10.0 ** st["r"]
                d = np.floor(d * scale + 0.5) / scale
                bmu, dist = d.argmin(axis=0), d.min(axis=0)
            else:
                bmu, dist = best_match(st["w"], x, st["m"])
            out = pdf.copy()
            out[out_cols[0]] = bmu.astype("int32")
            out[out_cols[1]] = dist
            yield out

    return vectors.mapInPandas(gen, schema)


def umatrix(weights: np.ndarray, grid: SomGrid,
            metric: str = "euclidean") -> np.ndarray:
    """Mean distance of each unit's weights to its radius-1 lattice
    neighbors, normalized to max 1 (som/som.py:276-302)."""
    gd = grid_dists(grid)
    out = np.empty(grid.n_units)
    for u in range(grid.n_units):
        nbrs = np.where((gd[u] > 0) & (gd[u] <= 1.0))[0]
        out[u] = cdist(weights[u][None, :], weights[nbrs], metric).mean()
    mx = out.max()
    return (out / mx if mx > 0 else out).reshape(grid.n_rows, grid.n_cols)


# ---------------------------------------------------------------------------
# Driver-exact incremental fit (parity mode, som/som.py:314-345)
# ---------------------------------------------------------------------------

def incremental_fit(data: np.ndarray, p: SomParams) -> tuple[np.ndarray, list[float]]:
    """Sequential Kohonen updates with the reference's schedule: eta
    linear -> 0, radius expo -> 1, permuted row order, seeded."""
    np.random.seed(p.seed)        # som/som.py:327 uses the legacy API
    grid = SomGrid(p.n_rows, p.n_cols)
    gd = grid_dists(grid, KERNEL_GRID_METRIC[p.kernel])
    d = data.shape[1]
    weights = init_weights(p.init, (p.n_rows, p.n_cols, d), data, p.seed)
    kern = KERNELS[p.kernel]
    # decrease_linear(start, n, stop=0) yields start + (stop-start)*x/(n-1)
    # (som/utilities.py:46-57): endpoint INCLUSIVE, so the final epoch
    # has eta == 0 and applies no weight update (quirk preserved).
    etas = np.linspace(p.eta_start, 0.0, p.n_iter)
    qerrors = []
    for epoch in range(p.n_iter):
        radius = _decay_radius(p, epoch)
        for i in np.random.permutation(len(data)):
            x = data[i]
            bmu, _ = best_match(weights, x, p.metric)
            h = kern(gd[bmu[0]], radius)[:, None]
            weights += etas[epoch] * h * (x - weights)
        _, dist = best_match(weights, data, p.metric)
        qerrors.append(float(dist.mean()))
    return weights, qerrors


def incremental_kdtree_fit(data: np.ndarray, p: SomParams
                           ) -> tuple[np.ndarray, list[float]]:
    """Driver-exact port of the reference's KD-tree incremental variant
    (som/som.py:348-379): per permuted sample, only the units inside
    the BMU's Chebyshev ball of radius ``c_nhr`` on the lattice are
    updated (the reference's ``SomGrid.nhb_idx`` is a cKDTree
    ``query_ball_point(point, radius, p=inf)`` — som/som.py:29-39), and
    every neighbor gets the SAME kernel weight ``exp(-1/c_nhr)*c_eta``:
    the per-neighbor grid-distance computation is commented out in the
    reference and replaced by ones (som/som.py:373-375 — quirk
    preserved; ``gauss_kern(nhb, r) = exp(-nhb/r)``,
    som/neighbors.py:107-108). eta decays linearly to final_eta=0 with
    the endpoint INCLUSIVE (decrease_linear steps are
    (stop-start)/(n_iter-1), som/utilities.py:46-57 — the final epoch
    gets eta=0 and applies no update; quirk preserved) and the radius
    exponentially to final_nhr=1 (som/utilities.py:59-69,
    som/defaults.py:5-9). Per-epoch quantization error = mean BMU
    distance over the full input (som/som.py:377-379).

    One deliberate divergence: the reference hardcodes
    ``np.random.seed(10)`` inside fit (som/som.py:364); this port
    seeds with ``p.seed`` so tests can vary the stream — with
    ``seed=10`` the permutation sequence is identical.

    Driver-side by design, like ``incremental_fit``: the sequential
    per-sample recursion is order-dependent and cannot be distributed
    without changing trajectories; ``fit_batch_som`` is the scale path
    with the same converged-quality contract."""
    np.random.seed(p.seed)        # som/som.py:364 uses the legacy API
    grid = SomGrid(p.n_rows, p.n_cols)
    pos = grid.positions
    d = data.shape[1]
    weights = init_weights(p.init, (p.n_rows, p.n_cols, d), data, p.seed)
    nhr0 = p.nhr_start if p.nhr_start is not None else \
        max(p.n_rows, p.n_cols) / 2.0
    # endpoint-inclusive, matching decrease_linear (see incremental_fit)
    etas = np.linspace(p.eta_start, 0.0, p.n_iter)
    # Chebyshev lattice distances stand in for the cKDTree radius
    # query: ball membership == (cheb_dist <= radius), identical sets
    cheb = grid_dists(grid, "chebyshev")
    qerrors: list[float] = []
    hit_counts = np.zeros(grid.n_units, dtype="int64")
    for epoch in range(p.n_iter):
        radius = max(nhr0 * (1.0 / nhr0) ** (epoch / max(p.n_iter - 1, 1)),
                     1.0) if nhr0 > 1 else 1.0
        for i in np.random.permutation(len(data)):
            x = data[i]
            bmu, _ = best_match(weights, x, p.metric)
            hit_counts[bmu[0]] += 1
            nh_idx = np.where(cheb[bmu[0]] <= radius)[0]
            kern = np.exp(-1.0 / radius) * etas[epoch]
            weights[nh_idx] += (x - weights[nh_idx]) * kern
        _, dist = best_match(weights, data, p.metric)
        qerrors.append(float(dist.mean()))
    return weights, qerrors


# ---------------------------------------------------------------------------
# Calibration-family queries (som/som.py:174-273, som/utilities.py:225-246)
# ---------------------------------------------------------------------------

def distribute(bmu_rows: DataFrame, id_col: str = "vec_id",
               bmu_col: str = "bmu") -> DataFrame:
    """Invert the BMU mapping: unit -> list of matched input ids
    (som/som.py:240-256 ``distribute``). One groupBy on the (tiny)
    assignment table."""
    from pyspark.sql import functions as F
    return (bmu_rows.groupBy(F.col(bmu_col).alias("unit"))
            .agg(F.sort_array(F.collect_list(id_col)).alias("matched_ids"),
                 F.count("*").alias("n_matched")))


def match_flat(bmu_rows: DataFrame, bmu_col: str = "bmu") -> DataFrame:
    """BMU flat index per row (som/utilities.py:225-233) — identity on
    our representation; kept for API parity."""
    return bmu_rows


def match_2d(bmu_rows: DataFrame, n_cols: int,
             bmu_col: str = "bmu") -> DataFrame:
    """BMU multi-index (row, col) per input (som/som.py:258-264
    ``match``: unravel of the flat index on the lattice)."""
    from pyspark.sql import functions as F
    return bmu_rows.withColumn(
        "bmu_row", (F.col(bmu_col) / n_cols).cast("int")).withColumn(
        "bmu_col", F.col(bmu_col) % n_cols)


def transform_weights(bmu_rows: DataFrame, weights: np.ndarray,
                      bmu_col: str = "bmu") -> DataFrame:
    """Replace each input by its BMU's weight vector (som/som.py:266-273
    ``transform``) — broadcast weight matrix + vectorized gather in a
    pUDF (a literal array would bloat the plan at real SOM sizes; a
    join would shuffle)."""
    from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType
    spark = bmu_rows.sparkSession
    bw = spark.sparkContext.broadcast(weights)
    schema = StructType(list(bmu_rows.schema.fields)
                        + [StructField("bmu_weights",
                                       ArrayType(DoubleType()))])

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        w_ = bw.value
        for pdf in batches:
            out = pdf.copy()
            out["bmu_weights"] = list(w_[pdf[bmu_col].to_numpy()])
            yield out

    return bmu_rows.mapInPandas(gen, schema)
