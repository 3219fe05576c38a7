"""Nonlinear / time-structure descriptors per doc (SURVEY §2.4-2.5
heavy kernels): correlation dimension (cdim), correlogram, acf,
Butterworth bandpass — one shuffle-free mapInPandas stage each.

These kernels are O(n^2)-ish per window, so they run on a bounded
prefix/window of each doc (configurable) exactly like the reference
applies them to fixed-length segments (cdim needs >= 2400 samples,
features.py:24-73)."""
from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from .functions import kernels
from .session import map_docs

NONLINEAR_SCHEMA = ("doc_id string, cdim double, correlogram double, "
                    "acf_lag1 double, acf_min_lag int")


def extract_nonlinear(docs: DataFrame, corr_wlen: int = 50,
                      corr_delay: int = 10,
                      max_samples: int = 4096) -> DataFrame:
    """Per-doc nonlinear battery on the first ``max_samples`` tokens:
    Bader cdim (if >= 2400 samples), total correlogram, acf stats.

    One ``session.map_docs`` stage: cdim/correlogram are heavily
    CPU-bound per doc, so a compact input is spread over every core."""

    cdim_need = (2400 - 10 - 1) + 79 * 14 + 1   # default delay/m_dim

    def battery(doc_id, tokens):
        sig = np.asarray(tokens, dtype="float64")[:max_samples]
        cdim = np.nan
        if sig.size >= cdim_need:
            # tokens -> [-1, 1] (signal/tools.py:198-207) then the
            # reference's fti16 + Bader kernel (features.py:24-73)
            mx = np.abs(sig).max()
            unit = sig / mx if mx > 0 else sig
            cdim = float(kernels.cdim(unit[None, :], 14, 80)[0])
        corr = np.nan
        if sig.size > corr_wlen + corr_delay:
            corr = float(kernels.correlogram(
                sig, corr_wlen, corr_delay, total=True)[0])
        a = kernels.acf(sig)
        neg = np.where(a < 0)[0]
        return {"cdim": cdim, "correlogram": corr,
                "acf_lag1": float(a[1]) if a.size > 1 else np.nan,
                "acf_min_lag": int(neg[0]) if neg.size else -1}

    return map_docs(docs, battery, NONLINEAR_SCHEMA)


def bandpass_docs(docs: DataFrame, fps: int, low: float, high: float,
                  order: int = 4) -> DataFrame:
    """Butterworth bandpass per doc (signal/filter.py:13-46): returns
    (doc_id, filtered array<double>). IIR state is order-dependent so
    each doc filters sequentially inside the UDF; docs in a batch are
    independent."""
    b, a = kernels.butter_bandpass_coef(low, high, fps, order)

    def bandpass(doc_id, tokens):
        sig = np.asarray(tokens, dtype="float64")
        return {"filtered": kernels.lfilter(b, a, sig)[None, :]}

    return map_docs(docs, bandpass, "doc_id string, filtered array<double>")
