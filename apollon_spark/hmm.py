"""Poisson hidden-Markov sequence descriptors (SURVEY §2.7).

The reference delegates EM to an external C library
(``chainsaddiction.hmm_poisson_fit_em``, hmm/poisson.py:89-90) with
max_iter=1000, tol=1e-5. The engine reimplements scaled
forward-backward EM in numpy and runs it per doc inside one
``mapInPandas`` stage — docs rows are self-contained, so model fitting
is shuffle-free and embarrassingly parallel.

Init methods mirror hmm/utilities.py:120-358; randomized inits are made
deterministic with a per-doc seed derived from crc32(doc_id). Fitted
states are sorted ascending by lambda (sort_param semantics,
hmm/utilities.py:448-478) so results are comparable across runs.
"""
from __future__ import annotations

import zlib

import numpy as np
from pyspark.sql import DataFrame

from .session import map_docs


# ---------------------------------------------------------------------------
# Input contract (hmm/poisson.py:404-421)
# ---------------------------------------------------------------------------

def assert_poisson_input(x: np.ndarray) -> np.ndarray:
    x = np.asarray(x)
    if x.ndim != 1:
        raise ValueError("input must be one-dimensional")
    if not np.issubdtype(x.dtype, np.integer):
        raise TypeError("input must be integer-typed")
    if (x < 0).any():
        raise ValueError("input must be non-negative")
    return x.astype("int64")


# ---------------------------------------------------------------------------
# Initializers (hmm/utilities.py)
# ---------------------------------------------------------------------------

def init_lambda(x: np.ndarray, m: int, method: str = "quantile",
                rng: np.random.Generator | None = None) -> np.ndarray:
    if method == "quantile":
        # hmm/utilities.py:160-181
        if 3 <= m <= 100:
            q_range = np.linspace(100 / (m + 1), 100, m + 1)[:-1]
            return np.percentile(x, q_range)
        if m == 2:
            return np.percentile(x, [25, 75])
        if m == 1:
            return np.atleast_1d(np.median(x))
        raise ValueError(f"bad m={m}")
    if method == "linear":
        return np.linspace(x.min(), x.max(), m).astype("float64")
    if method == "hist":
        # hmm/utilities.py:126-141: centers of the m most frequent of 10 bins
        frqs, edges = np.histogram(x, bins=10)
        centers = (edges[:-1] + edges[1:]) / 2
        return np.sort(centers[frqs.argsort()[::-1]][:m])
    if method == "random":
        rng = rng or np.random.default_rng()
        return rng.integers(x.min(), max(x.max(), x.min() + 1), m).astype("float64")
    raise ValueError(f"unknown init_lambda method {method!r}")


def init_gamma(m: int, method: str = "uniform", fill_diag: float = 0.8,
               alpha=None, rng: np.random.Generator | None = None) -> np.ndarray:
    if method == "uniform":
        # hmm/utilities.py:248-269
        g = np.full((m, m), (1.0 - fill_diag) / (m - 1))
        np.fill_diagonal(g, fill_diag)
        return g
    rng = rng or np.random.default_rng()
    if method == "softmax":
        g = rng.random((m, m))
        return np.exp(g) / np.exp(g).sum(axis=1, keepdims=True)
    if method == "dirichlet":
        alpha = np.atleast_1d(alpha if alpha is not None else np.ones(m))
        return np.vstack([rng.dirichlet(np.roll(alpha, i)) for i in range(m)])
    raise ValueError(f"unknown init_gamma method {method!r}")


def stationary_distr(tpm: np.ndarray) -> np.ndarray:
    """hmm/utilities.py:346-358: solve (I - Gamma + 1)^T x = 1."""
    m = tpm.shape[0]
    return np.linalg.solve((np.eye(m) - tpm + 1).T, np.ones(m))


def init_delta(gamma: np.ndarray, method: str = "stationary",
               alpha=None, rng: np.random.Generator | None = None) -> np.ndarray:
    m = gamma.shape[0]
    if method == "stationary":
        return stationary_distr(gamma)
    if method == "uniform":
        return np.full(m, 1.0 / m)
    rng = rng or np.random.default_rng()
    if method == "softmax":
        v = rng.random(m)
        return np.exp(v) / np.exp(v).sum()
    if method == "dirichlet":
        alpha = np.atleast_1d(alpha if alpha is not None else np.ones(m))
        return rng.dirichlet(alpha)
    raise ValueError(f"unknown init_delta method {method!r}")


# ---------------------------------------------------------------------------
# EM (engine reimplementation of the chainsaddiction fit)
# ---------------------------------------------------------------------------

def _log_poisson_pmf(x: np.ndarray, lams: np.ndarray) -> np.ndarray:
    """(T, m) log pmf table. log(x!) via a cumulative-log table (no
    scipy.gammaln here; x are small ints)."""
    xmax = int(x.max())
    log_fact = np.concatenate([[0.0], np.cumsum(np.log(np.arange(1, xmax + 1)))])
    lams = np.maximum(lams, 1e-12)
    return (x[:, None] * np.log(lams)[None, :]
            - lams[None, :] - log_fact[x][:, None])


def _forward_backward(b: np.ndarray, gamma: np.ndarray,
                      delta: np.ndarray) -> tuple[np.ndarray, ...]:
    """Scaled forward-backward over (T, m) emission likelihoods ``b``:
    (alpha, c, beta, post) — the scaled forward variables, the
    per-step scale factors, the scaled backward variables and the
    smoothed posteriors (reference hmm/poisson.py:78-98)."""
    T, m = b.shape
    alpha = np.empty((T, m))
    c = np.empty(T)
    phi = delta * b[0]
    c[0] = phi.sum()
    alpha[0] = phi / c[0]
    for t in range(1, T):
        phi = (alpha[t - 1] @ gamma) * b[t]
        c[t] = phi.sum()
        alpha[t] = phi / c[t]
    beta = np.empty((T, m))
    beta[-1] = 1.0
    for t in range(T - 2, -1, -1):
        beta[t] = (gamma @ (b[t + 1] * beta[t + 1])) / c[t + 1]
    post = alpha * beta
    post /= post.sum(axis=1, keepdims=True)
    return alpha, c, beta, post


def poisson_em(x: np.ndarray, m: int, lam: np.ndarray, gamma: np.ndarray,
               delta: np.ndarray, max_iter: int = 1000,
               tol: float = 1e-5) -> dict:
    """Scaled forward-backward EM for a univariate Poisson HMM.

    Returns dict with lambda/gamma/delta (states sorted ascending by
    lambda), nll, aic, bic, n_iter, success. Free-parameter count for
    AIC/BIC: m (lambdas) + m(m-1) (tpm off-diagonals) = m^2.
    """
    x = assert_poisson_input(x)
    T = x.size
    lam, gamma, delta = (np.array(lam, "float64"), np.array(gamma, "float64"),
                         np.array(delta, "float64"))
    ll_prev = -np.inf
    success = False
    n_iter = max_iter
    for it in range(1, max_iter + 1):
        logb = _log_poisson_pmf(x, lam)
        bmax = logb.max(axis=1, keepdims=True)
        b = np.exp(logb - bmax)                       # (T, m), row max = 1
        alpha, c, beta, post = _forward_backward(b, gamma, delta)
        ll = np.log(c).sum() + bmax.sum()

        # xi sums for the tpm update
        xi = gamma * (alpha[:-1].T @ ((b[1:] * beta[1:]) / c[1:, None]))
        gamma = xi / xi.sum(axis=1, keepdims=True)
        wsum = post.sum(axis=0)
        lam = (post * x[:, None]).sum(axis=0) / np.maximum(wsum, 1e-300)
        delta = post[0]

        if np.abs(ll - ll_prev) < tol:
            success = True
            n_iter = it
            break
        ll_prev = ll

    # canonical ordering: states ascending by lambda (sort_param,
    # hmm/utilities.py:448-478)
    order = np.argsort(lam)
    lam = lam[order]
    gamma = gamma[np.ix_(order, order)]
    delta = delta[order]

    nll = -ll
    k = m * m
    aic = 2.0 * nll + 2.0 * k
    bic = 2.0 * nll + k * np.log(T)
    return {"lambda": lam, "gamma": gamma, "delta": delta, "nll": float(nll),
            "aic": float(aic), "bic": float(bic), "n_iter": int(n_iter),
            "success": bool(success)}


def fit_poisson_hmm(x: np.ndarray, m_states: int,
                    init_lambda_method: str = "quantile",
                    init_gamma_method: str = "uniform",
                    init_delta_method: str = "stationary",
                    fill_diag: float = 0.8, seed: int | None = None,
                    max_iter: int = 1000, tol: float = 1e-5) -> dict:
    """Init (reference defaults, hmm/poisson.py:42-44) + EM."""
    x = assert_poisson_input(np.asarray(x))
    rng = np.random.default_rng(seed)
    lam = init_lambda(x, m_states, init_lambda_method, rng)
    gam = init_gamma(m_states, init_gamma_method, fill_diag, rng=rng)
    del_ = init_delta(gam, init_delta_method, rng=rng)
    return poisson_em(x, m_states, lam, gam, del_, max_iter, tol)


# ---------------------------------------------------------------------------
# Spark stage
# ---------------------------------------------------------------------------

HMM_SCHEMA = (
    "doc_id string, m_states int, lambda array<double>, "
    "gamma array<array<double>>, delta array<double>, "
    "nll double, aic double, bic double, n_iter int, success boolean"
)


def fit_hmm_docs(docs: DataFrame, m_states: int = 3,
                 init_lambda_method: str = "quantile",
                 init_gamma_method: str = "uniform",
                 init_delta_method: str = "stationary",
                 fill_diag: float = 0.8, max_iter: int = 1000,
                 tol: float = 1e-5, max_obs: int | None = None) -> DataFrame:
    """One fitted Poisson HMM per doc: one ``session.map_docs`` stage.

    ``max_obs``: optionally fit on the first N observations (bounds
    per-doc EM cost on whales; the regime structure is stationary).
    A doc whose fit raises gets a row of nulls with ``success`` false.
    EM is ~100x more CPU per byte than the feature battery, which is
    why a compact input is spread over every core (``map_docs``)."""

    def fit(doc_id, tokens):
        x = np.asarray(tokens, dtype="int64")
        if max_obs:
            x = x[:max_obs]
        seed = zlib.crc32(str(doc_id).encode()) & 0xFFFFFFFF
        try:
            res = fit_poisson_hmm(
                x, m_states, init_lambda_method, init_gamma_method,
                init_delta_method, fill_diag, seed, max_iter, tol)
        except Exception:
            return {"m_states": m_states, "lambda": None, "gamma": None,
                    "delta": None, "nll": None, "aic": None, "bic": None,
                    "n_iter": 0, "success": False}
        return {"m_states": m_states, "lambda": res["lambda"].tolist(),
                "gamma": res["gamma"].tolist(),
                "delta": res["delta"].tolist(),
                **{k: res[k] for k in ("nll", "aic", "bic", "n_iter",
                                       "success")}}

    return map_docs(docs, fit, HMM_SCHEMA)


# ---------------------------------------------------------------------------
# E-step on fixed parameters (the forward-backward smoother on its own,
# reference hmm/poisson.py:78-98 — the inference half of the EM loop)
# ---------------------------------------------------------------------------

def estep_b_table(lam, max_x: int = 255) -> np.ndarray:
    """(max_x+1, m) table of row-max-normalized Poisson emission
    likelihoods b(x, i) = exp((x·log λ_i − λ_i) − max_j(x·log λ_j − λ_j)).

    The log-factorial term of the pmf is a per-observation constant
    across states, so it cancels out of the row-max normalization —
    posteriors and scaled forward variables never need it. Token values
    live in [0, max_x], so the whole emission model is this finite
    table; the oracle gate embeds the SAME doubles as exact literals,
    which removes cross-engine exp/log from the comparison entirely."""
    lam = np.asarray(lam, dtype="float64")
    lg = np.log(lam)
    xs = np.arange(max_x + 1, dtype="float64")
    logb = xs[:, None] * lg[None, :] - lam[None, :]
    return np.exp(logb - logb.max(axis=1, keepdims=True))


def _table_obs(x, btab: np.ndarray) -> np.ndarray:
    """``x`` as validated observations that index the emission table
    ``btab``."""
    x = assert_poisson_input(np.asarray(x))
    if x.size and int(x.max()) >= btab.shape[0]:
        raise ValueError(
            f"token id {int(x.max())} exceeds the emission table's "
            f"max_x={btab.shape[0] - 1}; rebuild the table with a "
            f"larger max_x (estep_b_table / the estep_docs max_x "
            f"parameter)")
    return x


def _estep_full_m2(x: np.ndarray, btab: np.ndarray,
                   gamma, delta) -> tuple[np.ndarray, ...]:
    """The m=2 scalar-order E-step with every intermediate exposed:
    (a0, a1, c, be0, be1, b0, b1, p0, p1). Shared by
    ``estep_posteriors_m2`` (same operation sequence as before the
    split) and ``em_update_m2`` (which also needs b/β for the ξ
    sums)."""
    x = _table_obs(x, btab)
    T = x.size
    (g00, g01), (g10, g11) = gamma
    d0, d1 = delta
    b0 = btab[x, 0]
    b1 = btab[x, 1]
    a0 = np.empty(T)
    a1 = np.empty(T)
    c = np.empty(T)
    p0 = d0 * b0[0]
    p1 = d1 * b1[0]
    c[0] = p0 + p1
    a0[0] = p0 / c[0]
    a1[0] = p1 / c[0]
    for t in range(1, T):
        q0 = (a0[t - 1] * g00 + a1[t - 1] * g10) * b0[t]
        q1 = (a0[t - 1] * g01 + a1[t - 1] * g11) * b1[t]
        c[t] = q0 + q1
        a0[t] = q0 / c[t]
        a1[t] = q1 / c[t]
    be0 = np.empty(T)
    be1 = np.empty(T)
    be0[T - 1] = 1.0
    be1[T - 1] = 1.0
    for t in range(T - 2, -1, -1):
        v0 = b0[t + 1] * be0[t + 1]
        v1 = b1[t + 1] * be1[t + 1]
        be0[t] = (g00 * v0 + g01 * v1) / c[t + 1]
        be1[t] = (g10 * v0 + g11 * v1) / c[t + 1]
    n0 = a0 * be0
    n1 = a1 * be1
    s = n0 + n1
    return a0, a1, c, be0, be1, b0, b1, n0 / s, n1 / s


def estep_posteriors_m2(x: np.ndarray, btab: np.ndarray,
                        gamma, delta) -> tuple[np.ndarray, ...]:
    """Scaled forward-backward E-step for m=2 states on FIXED (λ via
    ``btab``, Γ, δ): returns (alpha0, c, post0, post1) per timestep —
    the scaled forward variable for state 0, the per-step scale
    factors, and the smoothed posteriors (reference hmm/poisson.py:78-98;
    identical recurrences to ``poisson_em``'s E-step, minus the
    factorial constant that cancels in every output).

    Arithmetic is written out scalar-by-scalar in a FIXED operation
    order (no np.dot / .sum()) so the DuckDB oracle can replay the
    exact IEEE sequence: q_j = (a0·g0j + a1·g1j)·b_j, c = q_0 + q_1,
    a_j = q_j / c; β_i = (g_i0·(b_0β_0) + g_i1·(b_1β_1)) / c;
    post_i = a_iβ_i / (a_0β_0 + a_1β_1)."""
    a0, _a1, c, _be0, _be1, _b0, _b1, p0, p1 = _estep_full_m2(
        x, btab, gamma, delta)
    return a0, c, p0, p1


def estep_bmax_table(lam, max_x: int = 255) -> np.ndarray:
    """(max_x+1,) table of the per-observation row-max log pmf
    bmax(x) = max_j(x·log λ_j − λ_j) − log(x!) — the constant
    ``estep_b_table`` divides out. ``em_update_m2`` adds it back for
    the true log-likelihood (poisson_em's ll = Σ log c + Σ bmax),
    and the oracle gate embeds the same doubles as exact literals."""
    lam = np.asarray(lam, dtype="float64")
    xs = np.arange(max_x + 1, dtype="int64")
    logb = _log_poisson_pmf(xs, lam)
    return logb.max(axis=1)


def em_update_m2(x: np.ndarray, btab: np.ndarray, bmax_tab: np.ndarray,
                 gamma, delta) -> dict:
    """ONE full EM iteration on fixed (λ via ``btab``/``bmax_tab``,
    Γ, δ) for m=2: the M-step update (λ', Γ', δ') and the iteration's
    log-likelihood, exactly poisson_em's update formulas
    (hmm.py:162-170; reference hmm/poisson.py:100-118) applied to the
    scalar-order E-step:

      S_ij = Σ_{t<T-1} a_i[t]·(b_j[t+1]·β_j[t+1]/c[t+1]);
      ξ_ij = γ_ij·S_ij;  γ'_ij = ξ_ij / (ξ_i0 + ξ_i1)
      λ'_j = Σ_t post_j[t]·x_t / max(Σ_t post_j[t], 1e-300)
      δ'_j = post_j[0];  ll = Σ_t log c_t + Σ_t bmax(x_t)

    pytest asserts allclose against poisson_em(max_iter=1)'s pre-sort
    state. Needs T >= 2 (the ξ sums are empty at T=1 and poisson_em
    itself degenerates to 0/0 there)."""
    x = assert_poisson_input(np.asarray(x))
    if x.size < 2:
        raise ValueError("em_update_m2 needs at least 2 observations")
    full = _estep_full_m2(x, btab, gamma, delta)
    return _em_update_from_full(x, full, bmax_tab, gamma)


def _em_update_from_full(x: np.ndarray, full: tuple[np.ndarray, ...],
                         bmax_tab: np.ndarray, gamma) -> dict:
    """M-step update from an ALREADY-COMPUTED ``_estep_full_m2`` tuple
    — lets ``em_step_docs`` run the O(T) forward-backward recursion
    once per doc and feed both the posterior columns and the update,
    instead of recomputing it inside ``em_update_m2``."""
    a0, a1, c, be0, be1, b0, b1, p0, p1 = full
    (g00, g01), (g10, g11) = gamma
    w0 = b0[1:] * be0[1:] / c[1:]
    w1 = b1[1:] * be1[1:] / c[1:]
    x00 = g00 * float(np.dot(a0[:-1], w0))
    x01 = g01 * float(np.dot(a0[:-1], w1))
    x10 = g10 * float(np.dot(a1[:-1], w0))
    x11 = g11 * float(np.dot(a1[:-1], w1))
    xf = np.asarray(x, dtype="float64")
    w0sum = float(p0.sum())
    w1sum = float(p1.sum())
    return {
        "lam0_next": float(np.dot(p0, xf)) / max(w0sum, 1e-300),
        "lam1_next": float(np.dot(p1, xf)) / max(w1sum, 1e-300),
        "g00_next": x00 / (x00 + x01), "g01_next": x01 / (x00 + x01),
        "g10_next": x10 / (x10 + x11), "g11_next": x11 / (x10 + x11),
        "delta0_next": float(p0[0]), "delta1_next": float(p1[0]),
        "ll": float(np.log(c).sum() + bmax_tab[x].sum()),
    }


def estep_posteriors(x: np.ndarray, btab: np.ndarray,
                     gamma, delta) -> tuple[np.ndarray, ...]:
    """General-m scaled forward-backward E-step on fixed parameters:
    returns (alpha (T,m), c (T,), post (T,m)). Same recurrences as
    ``estep_posteriors_m2`` in vectorized matrix form (reference
    hmm/poisson.py:78-98); the m=2 scalar variant remains the oracle
    gate's bit-exact twin, this is the API for arbitrary state counts
    (decode a corpus against any trained model)."""
    x = _table_obs(x, btab)
    alpha, c, _beta, post = _forward_backward(
        btab[x], np.asarray(gamma, dtype="float64"),
        np.asarray(delta, dtype="float64"))
    return alpha, c, post


def estep_docs(docs: DataFrame, lam, gamma, delta,
               max_x: int = 255) -> DataFrame:
    """Per-doc E-step posteriors on fixed parameters — one mapInPandas
    over (doc_id, tokens), long-form output
    (doc_id, t, alpha0, cscale, post0, post1 [, post2, ...]). The b
    table is built once on the driver and closed over (tiny: 256×m
    doubles). m=2 routes through the scalar-order kernel (the oracle
    gate's bit-exact twin); any other m uses the vectorized
    ``estep_posteriors``.

    One ``session.map_docs`` stage, like ``fit_hmm_docs``. ``max_x``
    bounds the emission table (default byte-range token ids); the kernel raises a
    descriptive ValueError for token ids past it."""
    btab = estep_b_table(lam, max_x=max_x)
    m = len(lam)

    def estep(doc_id, tokens):
        x = np.asarray(tokens, dtype="int64")
        if x.size == 0:
            return None
        if m == 2:
            a0, c, p0, p1 = estep_posteriors_m2(x, btab, gamma, delta)
            posts = {"post0": p0, "post1": p1}
        else:
            alpha, c, post = estep_posteriors(x, btab, gamma, delta)
            a0 = alpha[:, 0]
            posts = {f"post{j}": post[:, j] for j in range(m)}
        return {"t": np.arange(x.size, dtype="int32"), "alpha0": a0,
                "cscale": c, **posts}

    post_cols = ", ".join(f"post{j} double" for j in range(m))
    return map_docs(
        docs, estep, f"doc_id string, t int, alpha0 double, "
                     f"cscale double, {post_cols}")


EM_STEP_COLS = ["lam0_next", "lam1_next", "g00_next", "g01_next",
                "g10_next", "g11_next", "delta0_next", "delta1_next", "ll"]


def em_step_docs(docs: DataFrame, lam, gamma, delta,
                 max_x: int = 255) -> DataFrame:
    """Per-doc E-step posteriors PLUS the one-iteration M-step update
    on fixed (λ, Γ, δ), m=2 — one mapInPandas over (doc_id, tokens),
    long-form (doc_id, t, alpha0, cscale, post0, post1) with the
    per-doc update columns (λ', Γ', δ', ll — constant across the
    doc's rows) appended. Docs with fewer than 2 tokens are skipped
    (the ξ sums need a transition; poisson_em degenerates there too).
    One ``session.map_docs`` stage. ``max_x`` bounds the
    emission table — raise it for vocabularies beyond byte-range token
    ids (the kernel raises a descriptive ValueError past it)."""
    btab = estep_b_table(lam, max_x=max_x)
    bmax_tab = estep_bmax_table(lam, max_x=max_x)

    def em_step(doc_id, tokens):
        x = np.asarray(tokens, dtype="int64")
        if x.size < 2:
            return None
        # ONE forward-backward pass feeds both the posterior columns
        # and the M-step update
        full = _estep_full_m2(x, btab, gamma, delta)
        a0, _a1, c, _be0, _be1, _b0, _b1, p0, p1 = full
        return {"t": np.arange(x.size, dtype="int32"), "alpha0": a0,
                "cscale": c, "post0": p0, "post1": p1,
                **_em_update_from_full(x, full, bmax_tab, gamma)}

    upd_cols = ", ".join(f"{k} double" for k in EM_STEP_COLS)
    return map_docs(
        docs, em_step, f"doc_id string, t int, alpha0 double, "
                       f"cscale double, post0 double, post1 double, "
                       f"{upd_cols}")


def _ratio_emission_tables(l0: float, l1: float,
                           xm: int) -> tuple[np.ndarray, np.ndarray]:
    """Per-doc emission tables for the SECOND unrolled EM iteration,
    built by the DIVISION RECURSION e_j(x) = e_j(x-1)·(λ_j/x) with
    e_j(0)=1 — so e_j(x) = λ_j^x/x! without any pow/lgamma, in exactly
    the operation order a SQL recursive CTE replays. w_j = e_j·e^{-λ_j}
    is the true pmf; the row-max-normalized table and
    bm(x)=ln(max_j w_j) then match ``estep_b_table``/
    ``estep_bmax_table`` values to float noise while keeping the
    runtime cross-engine surface to {+,*,/,ln,exp-of-identical-input}
    (the hmm_estep oracle's discipline, extended to per-doc λ)."""
    xs = np.arange(1, xm + 1, dtype="float64")
    e0 = np.concatenate(([1.0], np.multiply.accumulate(l0 / xs)))
    e1 = np.concatenate(([1.0], np.multiply.accumulate(l1 / xs)))
    w0 = e0 * np.exp(-l0)
    w1 = e1 * np.exp(-l1)
    m = np.maximum(w0, w1)
    return np.stack([w0 / m, w1 / m], axis=1), np.log(m)


_EM2_Q = 65536.0          # 2^16 binary fixed-point handoff grid

EM2_ITER_COLS = ["lam0", "lam1", "g00", "g01", "g10", "g11",
                 "delta0", "delta1", "ll"]


def _quant16(v: float) -> float:
    """Binary fixed-point quantization to the NEAREST 2^-16 grid point
    via floor(v·2^16 + 0.5)/2^16, floored at one grid step so a
    collapsed state's λ'≈0 never reaches ln(0). Multiplication/
    division by 2^16, the +0.5 and floor are EXACT IEEE ops with one
    universal tie rule (half always up), so both engines land on the
    identical double from near-identical inputs — unlike decimal
    round(x, 6), whose scaling step and tie rule differ across
    engines. Round-to-NEAREST (not plain floor) is load-bearing:
    posteriors saturate at exactly 1.0, and a plain floor flips a
    whole grid step between an engine computing 1.0 and one computing
    1.0−1ulp (observed: a nondeterministic 2.4e-4 dll divergence on 1
    doc in 500 at sf0.01); with nearest-rounding the decision
    boundary sits at half-grid, where nothing concentrates."""
    return max(np.floor(v * _EM2_Q + 0.5) / _EM2_Q, 1.0 / _EM2_Q)


def em_two_iter_docs(docs: DataFrame, lam, gamma, delta,
                     max_x: int = 255) -> DataFrame:
    """TWO chained EM iterations per doc on a fixed global init — the
    som_train 2-epoch unrolling device applied to EM TRAINING
    (VERDICT r04 #3): iteration 2's (λ,Γ,δ) input is iteration 1's
    M-step output passed through the ``_quant16`` binary fixed-point
    handoff (quantized-restart semantics, so both engines feed
    bit-identical parameters into the second forward-backward).
    Returns one row per doc: iteration-1 and iteration-2 update
    parameters and log-likelihoods plus the ll improvement — the
    convergence signal ``poisson_em`` tests each round. States stay
    in init order (pre-sort, like ``em_step_docs``); docs need
    n_tok >= 2. One ``session.map_docs`` stage, like every per-doc
    kernel here."""
    btab = estep_b_table(lam, max_x=max_x)
    bmax_tab = estep_bmax_table(lam, max_x=max_x)
    iter_cols = [f"{c}_{t}" for t in ("1", "2") for c in EM2_ITER_COLS]

    def em_two_iter(doc_id, tokens):
        x = np.asarray(tokens, dtype="int64")
        if x.size < 2:
            return None
        full1 = _estep_full_m2(x, btab, gamma, delta)
        u1 = _em_update_from_full(x, full1, bmax_tab, gamma)
        l0 = _quant16(u1["lam0_next"])
        l1 = _quant16(u1["lam1_next"])
        g2 = ((_quant16(u1["g00_next"]), _quant16(u1["g01_next"])),
              (_quant16(u1["g10_next"]), _quant16(u1["g11_next"])))
        d2 = (_quant16(u1["delta0_next"]), _quant16(u1["delta1_next"]))
        btab2, bmax2 = _ratio_emission_tables(l0, l1, int(x.max()))
        full2 = _estep_full_m2(x, btab2, g2, d2)
        u2 = _em_update_from_full(x, full2, bmax2, g2)
        row = {"n_tok": int(x.size), "dll": u2["ll"] - u1["ll"]}
        for tag, u in (("1", u1), ("2", u2)):
            for col, key in zip(EM2_ITER_COLS, EM_STEP_COLS):
                row[f"{col}_{tag}"] = u[key]
        return row

    return map_docs(
        docs, em_two_iter, "doc_id string, n_tok int, "
        + ", ".join(f"{c} double" for c in iter_cols + ["dll"]))


# ---------------------------------------------------------------------------
# Reparametrization utilities (hmm/utilities.py:361-478)
# ---------------------------------------------------------------------------

def get_off_diag(mat: np.ndarray) -> np.ndarray:
    """Off-diagonal elements, row-major (hmm/utilities.py:383-400)."""
    if mat.shape[0] != mat.shape[1]:
        raise ValueError("matrix is not square")
    mask = ~np.eye(mat.shape[0], dtype=bool)
    return mat[mask]


def set_off_diag(mat: np.ndarray, vals: np.ndarray) -> None:
    """In-place off-diagonal fill (hmm/utilities.py:403-424)."""
    if mat.shape[0] != mat.shape[1]:
        raise ValueError("matrix is not square")
    if vals.size != mat.shape[0] * (mat.shape[0] - 1):
        raise ValueError("size mismatch")
    mask = ~np.eye(mat.shape[0], dtype=bool)
    mat[mask] = vals


def logit_tpm(tpm: np.ndarray) -> np.ndarray:
    """tpm -> unconstrained logit space (hmm/utilities.py:427-443):
    log(tpm / diag), off-diagonals only."""
    logits = np.log(tpm / tpm.diagonal()[:, None])
    return get_off_diag(logits)


def expit_tpm(lg_tpm: np.ndarray, m: int) -> np.ndarray:
    """Inverse of logit_tpm: rebuild a row-stochastic tpm. NB the
    reference's expit_gamma (hmm/utilities.py:446-466) applies
    ``np.log`` where ``exp`` is meant — we implement the documented
    intent (exp) and note the divergence."""
    tpm = np.eye(m)
    set_off_diag(tpm, np.exp(lg_tpm))
    return tpm / tpm.sum(axis=1, keepdims=True)


def sort_param(m_key: np.ndarray, m_param: np.ndarray) -> np.ndarray:
    """Reorder params by ascending key (hmm/utilities.py:448-478)."""
    order = np.argsort(m_key)
    if m_param.ndim == 1:
        return m_param[order]
    if m_param.ndim == 2:
        return m_param[np.ix_(order, order)]
    raise ValueError("m_param must be 1- or 2-dimensional")
