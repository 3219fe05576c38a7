"""Vectorized numpy kernels used inside Arrow pandas-UDF stages.

Engine-side implementations are row-major and whole-spectrogram batched
(one 2-D op per doc or per Arrow batch) — a deliberately different
execution shape from the reference's column-major per-file flow, while
reproducing its numeric semantics (cited per function as file:line in
/root/reference/src/apollon/).

Everything here is plain numpy: these functions run inside
``mapInPandas`` / ``applyInPandas`` on executors, so no Spark imports.
"""
from __future__ import annotations

import math

import numpy as np

from .windows import get_window

SPL_REF = 2e-5  # reference: _defaults.py:18 (human hearing threshold, 20 uPa)


# ---------------------------------------------------------------------------
# Framing (reference: segment.py:189-237; metadata segment.py:96-125)
# ---------------------------------------------------------------------------

def pad_lengths(n_frames: int, n_perseg: int, n_overlap: int,
                extend: bool, pad: bool) -> tuple[int, int]:
    """(ext_len, pad_len) zero-padding applied before striding.

    Matches segment.py:207-211: ``ext_len = n_perseg // 2`` when
    ``extend``; ``pad_len = (-(n_frames - n_perseg) % step) % n_perseg``
    when ``pad`` (computed from the ORIGINAL length, pre-extension).
    """
    step = n_perseg - n_overlap
    ext_len = n_perseg // 2 if extend else 0
    pad_len = ((-(n_frames - n_perseg) % step) % n_perseg) if pad else 0
    return ext_len, pad_len


def n_segments(n_frames: int, n_perseg: int, n_overlap: int,
               extend: bool, pad: bool) -> int:
    """Segment count for given framing params (segment.py:213-216)."""
    step = n_perseg - n_overlap
    ext_len, pad_len = pad_lengths(n_frames, n_perseg, n_overlap, extend, pad)
    total = n_frames + 2 * ext_len + pad_len
    return (total - n_overlap) // step


def validate_framing(n_frames: int, n_perseg: int, n_overlap: int) -> None:
    """Framing validation per segment.py:168-182,221-226."""
    if n_perseg <= 0:
        raise ValueError(f"n_perseg must be > 0, got {n_perseg}")
    if not 0 < n_overlap < n_perseg:
        raise ValueError(
            f"n_overlap must satisfy 0 < n_overlap < n_perseg, got "
            f"n_perseg={n_perseg} n_overlap={n_overlap}")
    if n_perseg > n_frames:
        raise ValueError(
            f"n_perseg={n_perseg} exceeds input length {n_frames}")


def frame_signal(sig: np.ndarray, n_perseg: int, n_overlap: int,
                 extend: bool = True, pad: bool = True,
                 dtype: str = "float64") -> np.ndarray:
    """Frame a 1-D signal into overlapping windows.

    Returns a row-major ``(n_segs, n_perseg)`` zero-copy strided view
    over the padded signal (the transpose of the reference's
    ``(n_perseg, n_segs)`` layout, segment.py:213-216).
    """
    sig = np.asarray(sig, dtype=dtype).ravel()
    validate_framing(sig.size, n_perseg, n_overlap)
    step = n_perseg - n_overlap
    ext_len, pad_len = pad_lengths(sig.size, n_perseg, n_overlap, extend, pad)
    padded = np.pad(sig, (ext_len, ext_len + pad_len))
    n_segs = (padded.size - n_overlap) // step
    return np.lib.stride_tricks.as_strided(
        padded,
        shape=(n_segs, n_perseg),
        strides=(step * padded.strides[0], padded.strides[0]),
        writeable=False,
    )


def segment_centers(n_segs: int, n_perseg: int, n_overlap: int,
                    extend: bool) -> np.ndarray:
    """Absolute center position of each segment in the ORIGINAL signal
    (segment.py:96-108: ``center = i*step + offset``; offset 0 when
    extended else ``n_perseg // 2``)."""
    step = n_perseg - n_overlap
    offset = 0 if extend else n_perseg // 2
    return np.arange(n_segs, dtype="int64") * step + offset


def causal_frame_signal(sig: np.ndarray, n_perseg: int, n_overlap: int,
                        dtype: str = "float64") -> tuple[np.ndarray, np.ndarray]:
    """Zero-leakage framing: segment ``i`` ends AT its center (engine
    extension, not in the reference). Segment i covers positions
    ``[i*step - n_perseg + 1, i*step]`` with zero left-padding, so no
    feature reads past its timestamp. Returns (segs, centers)."""
    sig = np.asarray(sig, dtype=dtype).ravel()
    validate_framing(sig.size, n_perseg, n_overlap)
    step = n_perseg - n_overlap
    padded = np.pad(sig, (n_perseg - 1, 0))
    n_segs = (sig.size + step - 1) // step
    segs = np.lib.stride_tricks.as_strided(
        padded,
        shape=(n_segs, n_perseg),
        strides=(step * padded.strides[0], padded.strides[0]),
        writeable=False,
    )
    centers = np.arange(n_segs, dtype="int64") * step
    return segs, centers


# ---------------------------------------------------------------------------
# Spectral transform (reference: spectral.py:27-63,87-91)
# ---------------------------------------------------------------------------

def rfft_mag(segs: np.ndarray, window: str | None = None,
             n_fft: int | None = None, norm: bool = True) -> np.ndarray:
    """Magnitude spectrogram of framed rows, ``(n_segs, n_bins)``.

    Matches spectral.py:27-63: window multiply, one-sided rfft, and the
    unit-sinusoid normalization ``bins / sqrt(win.sum()^2) * 2``.
    """
    n_sig = segs.shape[1]
    if n_fft is None:
        n_fft = n_sig
    win = get_window(window, n_sig)
    bins = np.fft.rfft(segs * win, n_fft, axis=1)
    if norm:
        bins = bins / math.sqrt(win.sum() ** 2) * 2
    return np.abs(bins)


def rfftfreq(n_fft: int, fps: float) -> np.ndarray:
    """Frequency axis (spectral.py:87-91)."""
    return np.fft.rfftfreq(n_fft, 1.0 / fps)


# ---------------------------------------------------------------------------
# Per-segment features. All take row-major inputs:
#   segs (n_segs, n_perseg) time domain; mag (n_segs, n_bins) spectral.
# Outputs are 1-D (n_segs,).
# ---------------------------------------------------------------------------

def energy(segs: np.ndarray) -> np.ndarray:
    """Total energy per segment (features.py:122-133)."""
    if not np.isfinite(segs).all():
        raise ValueError("non-finite values in input")
    return np.sum(np.square(np.abs(segs)), axis=1)


def rms(segs: np.ndarray) -> np.ndarray:
    """Root mean square per segment (features.py:158-167)."""
    return np.sqrt(np.mean(np.square(np.abs(segs)), axis=1))


def spl(segs: np.ndarray, ref: float = SPL_REF) -> np.ndarray:
    """Average sound pressure level (features.py:348-359): the log is
    only evaluated where level > 0 (np.log10 ``where=`` semantics leave
    other entries unchanged — i.e. undefined; we emit 0.0 there to keep
    the column total)."""
    level = rms(segs) / ref
    out = np.zeros_like(level)
    np.log10(level, where=level > 0, out=out)
    return 20.0 * out


def power_distr(mag: np.ndarray) -> np.ndarray:
    """Relative spectral distribution per segment; zero-total segments
    normalize by 1 (features.py:450-461)."""
    total = np.sum(mag, axis=1, keepdims=True)
    total[total == 0] = 1.0
    return mag / total


def spectral_centroid(frqs: np.ndarray, mag: np.ndarray) -> np.ndarray:
    """Expected frequency under the spectral distribution
    (features.py:170-192)."""
    return np.sum(frqs * power_distr(mag), axis=1)


def spectral_spread(frqs: np.ndarray, mag: np.ndarray,
                    centroids: np.ndarray | None = None) -> np.ndarray:
    """Sqrt of the second central spectral moment (features.py:195-224)."""
    if centroids is None:
        centroids = spectral_centroid(frqs, mag)
    dev = np.square(frqs[None, :] - centroids[:, None])
    return np.sqrt(np.sum(dev * power_distr(mag), axis=1))


def spectral_skewness(frqs: np.ndarray, mag: np.ndarray,
                      centroids: np.ndarray | None = None,
                      spreads: np.ndarray | None = None) -> np.ndarray:
    """Third standardized spectral moment. The reference declares but
    stubs this (features.py:227-251 body is ``pass``); we implement the
    documented formula — engine extension, no reference output exists."""
    if centroids is None:
        centroids = spectral_centroid(frqs, mag)
    if spreads is None:
        spreads = spectral_spread(frqs, mag, centroids)
    sigma = np.where(spreads == 0, 1.0, spreads)
    z = (frqs[None, :] - centroids[:, None]) / sigma[:, None]
    return np.sum(np.power(z, 3) * power_distr(mag), axis=1)


def spectral_kurtosis(frqs: np.ndarray, mag: np.ndarray,
                      centroids: np.ndarray | None = None,
                      spreads: np.ndarray | None = None) -> np.ndarray:
    """Fourth standardized spectral moment (documented-but-stubbed in the
    reference, features.py:253-277)."""
    if centroids is None:
        centroids = spectral_centroid(frqs, mag)
    if spreads is None:
        spreads = spectral_spread(frqs, mag, centroids)
    sigma = np.where(spreads == 0, 1.0, spreads)
    z = (frqs[None, :] - centroids[:, None]) / sigma[:, None]
    return np.sum(np.power(z, 4) * power_distr(mag), axis=1)


def spectral_flux(mag: np.ndarray, delta: float = 1.0) -> np.ndarray:
    """Positive spectral time-gradient summed over frequency
    (features.py:280-305). ``np.gradient`` central differences along the
    TIME axis make this inherently non-causal (uses t-1 and t+1, one-sided
    at the edges) — exact np.gradient parity."""
    if mag.shape[0] == 1:
        # np.gradient needs >= 2 points along the axis; single segment
        # has zero flux by convention.
        return np.zeros(1, dtype="float64")
    grad = np.gradient(mag.astype("float64"), delta, axis=0)
    return np.maximum(grad, 0.0).sum(axis=1)


def fspl(mag: np.ndarray, total: bool = True, ref: float = SPL_REF) -> np.ndarray:
    """SPL from spectrum (features.py:308-331), total over frequency."""
    vals = np.square(mag / ref)
    if total:
        vals = vals.sum(axis=1)
    vals = np.maximum(1.0, vals)
    return 10.0 * np.log10(vals)


def c_weighting(frqs: np.ndarray) -> np.ndarray:
    """IEC 61672 C-weighting magnitude response
    (signal/tools.py:84-96)."""
    frqs = np.asarray(frqs, dtype="float64")
    f2 = np.square(frqs)
    num = 148693636.0 * f2
    den = (f2 + 424.36) * (f2 + 148693636.0)
    return num / den


def fsplc(frqs: np.ndarray, mag: np.ndarray, total: bool = True,
          ref: float = SPL_REF) -> np.ndarray:
    """C-weighted spectral SPL. The reference's composition is broken
    (features.py:346 calls 2-arg ``spl`` with 3 args); we implement the
    documented intent: C-weight the magnitudes, then spectral SPL."""
    return fspl(c_weighting(frqs)[None, :] * mag, total=total, ref=ref)


# --- Bark critical bands (reference: signal/critical_bands.py) -------------

def frq2cbr(frq: np.ndarray) -> np.ndarray:
    """Hz -> critical band rate in Bark (critical_bands.py:12-22)."""
    frq = np.atleast_1d(np.asarray(frq, dtype="float64"))
    return 13.0 * np.arctan(0.00076 * frq) + 3.5 * np.arctan(np.square(frq / 7500.0))


def bark_filter_bank(frqs: np.ndarray) -> np.ndarray:
    """24 triangular Bark-scaled filters, ``(24, n_bins)``
    (critical_bands.py:68-91). Computed once per doc batch and reused —
    the broadcast-matrix pattern."""
    n_bands = 24
    z_frq = frq2cbr(frqs)
    bank = np.zeros((n_bands, z_frq.size))
    for z in range(n_bands):
        idx = np.logical_and(z <= z_frq, z_frq < z + 1)
        n = int(idx.sum())
        if n:
            bank[z, idx] = get_window("triang", n, periodic=False)
    return bank


def cb_level(cbi: np.ndarray) -> np.ndarray:
    """Critical band level from intensities (critical_bands.py:25-35).
    NB the reference's ref value is literally ``10e-12`` = 1e-11."""
    ref = 10e-12
    return 10.0 * np.log10(np.maximum(cbi, ref) / ref)


def specific_loudness(cbr: np.ndarray) -> np.ndarray:
    """Loudness per critical band (critical_bands.py:38-50)."""
    return np.power(cb_level(cbr), 0.23)


def loudness(frqs: np.ndarray, mag: np.ndarray,
             bank: np.ndarray | None = None) -> np.ndarray:
    """Total loudness per segment (features.py:385-396 +
    critical_bands.py:53-65): Bark bank @ magnitudes -> specific
    loudness -> sum over bands."""
    if bank is None:
        bank = bark_filter_bank(frqs)
    cbrs = mag @ bank.T                      # (n_segs, 24)
    return specific_loudness(cbrs).sum(axis=1)


def sharpness(frqs: np.ndarray, mag: np.ndarray,
              bank: np.ndarray | None = None) -> np.ndarray:
    """Perceptual sharpness per segment (features.py:435-447 +
    critical_bands.py:94-124). NB: the reference normalizes by
    ``fsum(loud_specific)`` with axis=None — ONE scalar over the whole
    spectrogram, not per segment. That whole-doc coupling is preserved
    (load-bearing for parity); callers in split/halo mode must pass the
    doc's full spectrogram here or aggregate the denominator separately."""
    if bank is None:
        bank = bark_filter_bank(frqs)
    cbrs = mag @ bank.T                      # (n_segs, 24)
    loud_specific = np.maximum(specific_loudness(cbrs), np.finfo("float64").eps)
    loud_total = loud_specific.sum()         # scalar, whole spectrogram
    z = np.arange(1, 25, dtype="float64")
    w = np.maximum(1.0, 0.066 * np.exp(0.171 * z))
    return (cbrs @ (z * w)) / loud_total


def roughness_helmholtz(d_frq: float, mag: np.ndarray, frq_max: float,
                        total: bool = True) -> np.ndarray:
    """Helmholtz roughness per segment (features.py:399-432 +
    kernel features.py:464-478). Per-segment autocorrelation of the
    clip-normalized low spectrum, weighted by ``f/33e^-1 * exp(-f/33)``."""
    frm = 33.0
    bin_idx = int(np.round(frq_max / d_frq))
    base = np.abs(np.arange(bin_idx + 1)) * d_frq
    kernel = base / (frm * np.exp(-1.0)) * np.exp(-base / frm)

    k = kernel.size
    sl = mag[:, :k].astype("float64").copy()
    mx = sl.max(axis=1)
    pos = mx > 0
    sl[pos] /= mx[pos, None]
    sl[sl < 0.1] = 0.0
    # batched FFT autocorrelation == np.correlate(sl, sl, 'full')[k-1:]
    # (zero-padding to >= 2k-1 makes circular == linear; the reference
    # itself goes through scipy's FFT path for this size). One rfft
    # pass for ALL segments instead of a per-segment Python loop.
    n_fft = 2 * k - 1
    spec = np.fft.rfft(sl, n_fft, axis=1)
    rns = np.fft.irfft(spec * np.conj(spec), n_fft, axis=1)[:, :k]
    rns[:, 0] = 0.0
    # the direct autocorrelation of the thresholded spectrum is either
    # exactly 0 or >= 0.1*0.1 per product; the FFT path leaves ~1e-17
    # residue where the truth is 0, which must NOT be normalized to 1
    # (a single-surviving-bin segment would turn roundoff noise into
    # O(kernel)-magnitude roughness)
    rns[np.abs(rns) < 1e-9] = 0.0
    rmx = rns.max(axis=1)
    rpos = rmx > 0
    rns[rpos] /= rmx[rpos, None]
    counts = (rns > 0.2).sum(axis=1).astype("float64")
    out = rns * kernel
    with np.errstate(divide="ignore", invalid="ignore"):
        out[rpos] = out[rpos] / counts[rpos, None]
    if total:
        return out.sum(axis=1)
    return out


# --- Time-domain / nonlinear kernels ---------------------------------------

def delay_embedding(sig: np.ndarray, delay: int, m_dim: int) -> np.ndarray:
    """Delay embedding matrix ``(n, m_dim)`` (fractal.py:42-61), built
    as a strided view rather than the reference's per-row loop."""
    sig = np.ascontiguousarray(sig, dtype="float64")
    max_idx = sig.size - (m_dim - 1) * delay
    if max_idx <= 0:
        raise ValueError("signal too short for embedding")
    s = sig.strides[0]
    return np.lib.stride_tricks.as_strided(
        sig, shape=(max_idx, m_dim), strides=(s, delay * s), writeable=False)


def shannon_entropy(counts: np.ndarray) -> float:
    """Shannon entropy (nats) of a count vector, as scipy.stats.entropy
    computes it (normalize, ignore zeros)."""
    counts = np.asarray(counts, dtype="float64").ravel()
    total = counts.sum()
    if total <= 0:
        return 0.0
    p = counts / total
    p = p[p > 0]
    return float(-(p * np.log(p)).sum())


def embedding_entropy(emb: np.ndarray, n_bins: int) -> float:
    """Entropy of the d-dim histogram of an embedding (fractal.py:85-96)."""
    counts, _ = np.histogramdd(emb, bins=n_bins)
    return shannon_entropy(counts)


def hilbert_magnitude(segs: np.ndarray) -> np.ndarray:
    """|analytic signal| per row via FFT (scipy.signal.hilbert
    semantics; scipy unavailable here). Used by log_attack_time
    (features.py:361-382)."""
    segs = np.asarray(segs, dtype="float64")
    n = segs.shape[-1]
    spec = np.fft.fft(segs, axis=-1)
    h = np.zeros(n)
    if n % 2 == 0:
        h[0] = h[n // 2] = 1.0
        h[1:n // 2] = 2.0
    else:
        h[0] = 1.0
        h[1:(n + 1) // 2] = 2.0
    return np.abs(np.fft.ifft(spec * h, axis=-1))


def correlogram(sig: np.ndarray, wlen: int, n_delay: int,
                total: bool = True) -> np.ndarray:
    """Windowed autocorrelation to the 4th power, clamped at 0
    (features.py:76-119; C kernel correlogram.c:3-78). Vectorized with
    sliding windows + einsum instead of the C double loop.

    Output (not total): ``(n_delay-1, n_t)`` with
    ``out[d-1, t] = max(corrcoef(sig[t:t+wlen], sig[t+d:t+d+wlen]), 0)^4``
    for d in [1, n_delay), t in [0, len-wlen-n_delay).
    """
    sig = np.asarray(sig, dtype="float64").ravel()
    n_t = sig.size - wlen - n_delay
    if n_t <= 0:
        raise ValueError("signal too short for correlogram")
    sw = np.lib.stride_tricks.sliding_window_view(sig, wlen)  # (L-wlen+1, wlen)
    means = sw.mean(axis=1)
    devs = sw - means[:, None]
    ss = np.einsum("ij,ij->i", devs, devs)
    base = devs[:n_t]                       # windows at t
    out = np.empty((n_delay - 1, n_t))
    for d in range(1, n_delay):
        lagged = devs[d:d + n_t]
        cov = np.einsum("ij,ij->i", base, lagged)
        denom = np.sqrt(ss[:n_t] * ss[d:d + n_t])
        with np.errstate(divide="ignore", invalid="ignore"):
            r = np.where(denom > 0, cov / denom, 0.0)
        out[d - 1] = np.power(np.maximum(r, 0.0), 4)
    if total:
        return np.array([out.mean()])
    return out


def fti16(sig: np.ndarray) -> np.ndarray:
    """float -> int16 (audio.py:141-150): clip(floor(x*2^15))."""
    return np.clip(np.floor(np.asarray(sig, "float64") * 2 ** 15),
                   -2 ** 15, 2 ** 15 - 1).astype("int16")


def cdim_bader(sig: np.ndarray, delay: int = 14, m_dim: int = 80,
               n_bins: int = 1000, scaling_size: int = 10) -> float:
    """Correlation dimension, Bader variant — exact behavioral port of
    the C kernel (signal/cdim.c:167-283), vectorized. The kernel's
    quirks are load-bearing and preserved (comments at
    cdim.c:163-167,192-202 call them out):

    - traverses pairs (i, i+j) for i in [0, 2390), j in [0, 2390-i) —
      i.e. the upper triangle INCLUDING the zero diagonal;
    - embedding vectors index up to (2390-1) + (m_dim-1)*delay, so the
      input must be LONGER than 2400 samples for default params;
    - fixed ``dist_min = 1.0``; bin index ``floor((floor(d)-1)/step)``
      with ``step = max(int(dist_max/1000), 1)``;
    - slope taken between the histogram's argmax bin (over the first
      3/5 of bins) and argmax+scaling_size on the log-log curve.

    Input is expected int16-scaled (the reference wrapper applies
    ``fti16`` first, features.py:60-62); pass raw ints and they are
    used as-is like the C kernel would.
    """
    bound, n_samples = 10, 2400          # cdim.c:172,177
    x = np.asarray(sig, dtype="float64").ravel()
    n = n_samples - bound
    need = (n - 1) + (m_dim - 1) * delay + 1
    if x.size < need:
        raise ValueError(
            f"cdim_bader needs >= {need} samples for delay={delay}, "
            f"m_dim={m_dim}; got {x.size}")
    s = x.strides[0]
    emb = np.lib.stride_tricks.as_strided(
        x, shape=(n, m_dim), strides=(s, delay * s), writeable=False)
    emb = np.ascontiguousarray(emb)
    sq = np.einsum("ij,ij->i", emb, emb)
    d2 = sq[:, None] + sq[None, :] - 2.0 * (emb @ emb.T)
    iu = np.triu_indices(n, k=0)         # diagonal included (cdim.c:203-219)
    dists = np.sqrt(np.maximum(d2[iu], 0.0))
    n_dists = n * (n + 1) // 2

    dist_min = 1.0                       # cdim.c:181 (never updated)
    dist_max = dists.max()
    step = int(dist_max / 1000.0)
    step = 1 if step == 0 else step      # cdim.c:222-223

    hist = np.zeros(n_bins, dtype="int64")
    low = dists < dist_min
    hist[0] = int(low.sum())
    rest = dists[~low]
    idx = np.floor((np.floor(rest) - dist_min) / step).astype("int64")
    idx = idx[idx + 2 < n_bins]          # cdim.c:232-236
    if idx.size:
        hist += np.bincount(idx + 1, minlength=n_bins)
    corr_sums = np.cumsum(hist)

    lim = int(n_bins * 3.0 / 5.0)        # cdim.c:256-265
    max_bin = int(np.argmax(hist[:lim]))
    with np.errstate(divide="ignore"):
        x1 = np.log(max_bin * step + dist_min)
        x2 = np.log((max_bin + scaling_size) * step + dist_min)
        y1 = np.log(corr_sums[max_bin] / n_dists)
        y2 = np.log(corr_sums[max_bin + scaling_size] / n_dists)
    return float((y2 - y1) / (x2 - x1))


def cdim(inp_segs: np.ndarray, delay: int, m_dim: int, n_bins: int = 1000,
         scaling_size: int = 10) -> np.ndarray:
    """Per-segment correlation dimension (features.py:24-73 wrapper):
    fti16-quantize floats, run the Bader kernel per row, nan_to_num."""
    segs = np.atleast_2d(inp_segs)
    if segs.dtype != np.int16:
        segs = fti16(segs)
    out = np.zeros(segs.shape[0])
    for i in range(segs.shape[0]):
        out[i] = np.nan_to_num(cdim_bader(
            segs[i].astype("float64"), delay, m_dim, n_bins, scaling_size))
    return out


def acf(sig: np.ndarray) -> np.ndarray:
    """Normalized autocorrelation at all lags (signal/tools.py:32-54),
    FFT-based. An empty signal has no lags: empty result."""
    sig = np.asarray(sig, dtype="float64").ravel()
    n = sig.size
    if n == 0:
        return sig
    nfft = 1 << int(np.ceil(np.log2(2 * n - 1)))
    spec = np.fft.rfft(sig, nfft)
    full = np.fft.irfft(spec * np.conj(spec), nfft)[:n]
    if full[0] == 0:
        return np.zeros(n)
    return full / full[0]


def acf_pearson(sig: np.ndarray) -> np.ndarray:
    """Autocorrelation via the reference's 'fast pearson' coefficient
    (signal/tools.py:57-81). NB the reference normalizes by the PRODUCT
    of energies (no sqrt) — that quirk is preserved for parity."""
    sig = np.asarray(sig, dtype="float64").ravel()
    n = sig.size
    out = np.empty(n - 1)
    out[0] = 1.0
    for lag in range(1, n - 1):
        out[lag] = corr_coef_pearson(sig[:-lag], sig[lag:])
    return out


def corr_coef_pearson(x: np.ndarray, y: np.ndarray) -> float:
    """signal/tools.py:74-81 verbatim semantics: r_xy / (xx * yy),
    not the mathematically-standard sqrt denominator."""
    xd = x - np.mean(x)
    yd = y - np.mean(y)
    r_xy = float(xd @ yd)
    r_xx_yy = float((xd @ xd) * (yd @ yd))
    if r_xx_yy == 0:
        return 0.0
    return r_xy / r_xx_yy


# --- Butterworth bandpass (signal/filter.py:13-46; scipy-free design) -------

def butter_bandpass_coef(low: float, high: float, fs: float,
                         order: int = 4) -> tuple[np.ndarray, np.ndarray]:
    """(b, a) for a digital Butterworth bandpass via the standard
    analog-prototype -> bandpass transform -> bilinear route (the same
    math scipy.signal.butter performs)."""
    nyq = fs / 2.0
    # pre-warp the band edges for the bilinear transform (fs=2)
    w1 = 2.0 * 2.0 * np.tan(np.pi * (low / nyq) / 2.0)
    w2 = 2.0 * 2.0 * np.tan(np.pi * (high / nyq) / 2.0)
    bw, w0 = w2 - w1, np.sqrt(w1 * w2)
    # analog lowpass prototype poles (Butterworth, unit cutoff)
    k = np.arange(1, order + 1)
    proto = np.exp(1j * np.pi * (2 * k + order - 1) / (2 * order))
    # lowpass -> bandpass: each pole maps to a conjugate pair
    p_lp = proto * bw / 2.0
    disc = np.sqrt(p_lp ** 2 - w0 ** 2 + 0j)
    poles = np.concatenate([p_lp + disc, p_lp - disc])
    zeros = np.zeros(order)                    # order zeros at s=0
    gain = bw ** order
    # bilinear transform (fs=2): s = 4 * (z-1)/(z+1)
    fs2 = 2.0 * 2.0
    pz = (fs2 + poles) / (fs2 - poles)
    zz = (fs2 + zeros) / (fs2 - zeros)
    gz = gain * np.real(np.prod(fs2 - zeros) / np.prod(fs2 - poles))
    zz = np.concatenate([zz, -np.ones(len(pz) - len(zz))])
    b = np.real(gz * np.poly(zz))
    a = np.real(np.poly(pz))
    return b, a


def lfilter(b: np.ndarray, a: np.ndarray, x: np.ndarray) -> np.ndarray:
    """Direct-form-II-transposed IIR filter (scipy.signal.lfilter
    semantics). Inherently sequential along the signal — runs per doc
    inside a grouped pUDF; not a hot-path kernel."""
    b = np.asarray(b, "float64") / a[0]
    a = np.asarray(a, "float64") / a[0]
    n = max(len(a), len(b))
    z = np.zeros(n - 1)
    y = np.empty_like(x, dtype="float64")
    for i, xi in enumerate(x):
        yi = b[0] * xi + z[0]
        for j in range(n - 2):
            z[j] = b[j + 1] * xi + z[j + 1] - a[j + 1] * yi
        z[n - 2] = b[n - 1] * xi - a[n - 1] * yi
        y[i] = yi
    return y


def log_histogram_bin_edges(dists: np.ndarray, n_bins: int) -> np.ndarray:
    """Geometrically spaced histogram edges (fractal.py:21-38)."""
    dists = np.asarray(dists, "float64")
    lower = dists.min()
    if lower == 0:
        diffs = np.absolute(np.diff(dists))
        lower = diffs.min() if diffs.size else 0.0
    if lower == 0:
        srt = np.sort(dists)
        nz = srt[srt > 0]
        lower = nz[0] if nz.size else np.finfo("float64").eps
    return np.geomspace(lower, dists.max(), n_bins + 1)


def lorenz_attractor(n: int = 1000, s: float = 10.0, r: float = 28.0,
                     b: float = 8.0 / 3.0, dt: float = 0.01,
                     init: tuple = (0.0, 1.0, 1.05)) -> np.ndarray:
    """Euler-integrated Lorenz system (fractal.py:116-138) — test-data
    generator for the nonlinear kernels."""
    out = np.empty((n, 3))
    x, y, z = init
    for i in range(n):
        dx, dy, dz = s * (y - x), r * x - y - x * z, x * y - b * z
        x, y, z = x + dt * dx, y + dt * dy, z + dt * dz
        out[i] = (x, y, z)
    return out


def pca(data: np.ndarray, n_comps: int = 2):
    """SVD PCA (tools.py:17-37): returns (top singular values, top
    right-singular vectors, centered data projected)."""
    centered = data - data.mean(axis=0)
    _, vals, vects = np.linalg.svd(centered, full_matrices=False)
    idx = np.flip(vals.argsort())[:n_comps]
    vals, vects = vals[idx], vects[idx]
    return vals, vects, centered @ vects.T


def by_samples(sig: np.ndarray, n_perseg: int, hop_size: int = 0) -> np.ndarray:
    """Non-overlapping (or hopped) framing with zero-pad to fit
    (segment.py:327-417). hop_size < 1 means hop = n_perseg.
    Preserves the reference's segment-count rule: an extra partial
    segment is emitted only when n_perseg > hop_size and the tail
    doesn't align (segment.py:379-382)."""
    sig = np.asarray(sig, "float64").ravel()
    if n_perseg < 1:
        raise ValueError("n_perseg must be >= 1")
    if hop_size < 1:
        fit = int(np.ceil(sig.size / n_perseg) * n_perseg)
        padded = np.pad(sig, (0, fit - sig.size))
        return padded.reshape(-1, n_perseg)
    if not 1 < n_perseg <= sig.size:
        raise ValueError("need 1 < n_perseg <= len(sig)")
    n_hops = (sig.size - n_perseg) // hop_size + 1
    n_segs = n_hops
    if (sig.size - n_perseg) % hop_size != 0 and n_perseg > hop_size:
        n_segs += 1
    fit = hop_size * n_hops + n_perseg
    padded = np.pad(sig, (0, fit - sig.size))
    out = np.empty((n_segs, n_perseg))
    for i in range(n_segs):
        out[i] = padded[i * hop_size:i * hop_size + n_perseg]
    return out


def by_ms(sig: np.ndarray, fps: int, ms_perseg: int,
          hop_size_ms: int = 0) -> np.ndarray:
    """ms -> samples then by_samples (segment.py:420-442)."""
    return by_samples(sig, fps * ms_perseg // 1000,
                      fps * hop_size_ms // 1000)


def frms(mag_or_bins: np.ndarray, n_sig: int,
         window: str | None = None) -> np.ndarray:
    """RMS estimated from DFT bins (features.py:136-155). Input is the
    NORMALIZED one-sided spectrum (the reference feeds it its own
    ``fft(norm=True)`` output), rows = segments."""
    vals = np.abs(mag_or_bins).astype("float64") * n_sig
    if n_sig % 2:
        vals = vals / 2.0
    else:
        vals = vals.copy()
        vals[:, :-1] /= 2.0
    rms_ = np.sqrt(2.0 * np.sum(np.square(vals), axis=1)) / n_sig
    if window:
        wvec = get_window(window, n_sig, periodic=False)
        rms_ = rms_ / math.sqrt(float(np.mean(np.square(wvec))))
    return rms_


def rfft_full(segs: np.ndarray, window: str | None = None,
              n_fft: int | None = None, norm: bool = True) -> np.ndarray:
    """Complex one-sided DFT (spectral.py:27-63) — for phase/power
    consumers; rfft_mag is the magnitude shortcut."""
    n_sig = segs.shape[1]
    if n_fft is None:
        n_fft = n_sig
    win = get_window(window, n_sig)
    bins = np.fft.rfft(segs * win, n_fft, axis=1)
    if norm:
        bins = bins / math.sqrt(win.sum() ** 2) * 2
    return bins


def embedding_dists(sig: np.ndarray, delay: int, m_dim: int) -> np.ndarray:
    """Flattened upper triangle of pairwise euclidean distances of the
    delay embedding (fractal.py:64-82), vectorized (no scipy pdist)."""
    emb = np.ascontiguousarray(delay_embedding(sig, delay, m_dim))
    sq = np.einsum("ij,ij->i", emb, emb)
    d2 = sq[:, None] + sq[None, :] - 2.0 * (emb @ emb.T)
    iu = np.triu_indices(emb.shape[0], k=1)
    return np.sqrt(np.maximum(d2[iu], 0.0))
