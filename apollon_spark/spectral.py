"""Fused spectral feature extraction — the engine's flagship pipeline.

Reference dataflow (SURVEY §3.1): signal -> Segmentation -> rfft ->
per-segment statistics. Engine shape: ONE vectorized ``mapInPandas``
stage consumes whole docs straight off the parquet/Iceberg scan (no
shuffle at all — per-doc work is embarrassingly parallel) and emits one
row per (doc, segment) with the full feature battery. All per-segment
features are computed from a single rfft pass per doc
(common-subexpression fusion the reference does by hand,
features.py:220-221).

Skew path: ``extract_features(split=True)`` routes long docs through
``split_docs_halo`` so a single whale parallelizes across tasks;
flux gets a 1-segment halo (np.gradient needs t-1/t+1) and sharpness's
whole-doc denominator (critical_bands.py:115 sums over the full
spectrogram) is reassembled with a per-doc window sum in SQL.
"""
from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .functions import kernels
from .operators.framing import FramingParams, split_docs_halo
from .session import map_docs


@dataclass(frozen=True)
class FeatureConfig:
    """Parameters of the feature pipeline (reference defaults:
    SegmentationParams 512/256 segment.py:43-44, fft norm
    spectral.py:60-61).

    ``features``: optional subset of the battery (canonical order of
    ``FEATURE_COLS``); None = full battery. Mirrors the reference CLI's
    feature-group flags (scripts/apollon:34-49 --rhythm/--timbre) and
    skips the kernels the subset doesn't need (e.g. no Bark matmuls
    unless loudness/sharpness are requested)."""
    framing: FramingParams = FramingParams()
    window: str | None = "hamming"
    n_fft: int | None = None
    norm: bool = True
    fps: int = 9000
    causal: bool = False          # engine extension: zero-leakage framing
    features: tuple | None = None
    with_entropy: bool = False    # delay-embedding entropy (onsets.py:158-176)
    entropy_delay: int = 10
    entropy_m_dims: int = 3
    entropy_bins: int = 10
    with_roughness: bool = False  # Helmholtz roughness (features.py:399-432)
    roughness_frq_max: float = 4000.0


# per-flush-group stacked-matrix cap, in float64 elements (~128 MB);
# bounds worker memory no matter how Arrow batches rows
_FLUSH_ELEMS = 16 * 1024 * 1024

FEATURE_COLS = ["energy", "rms", "spl", "centroid", "spread", "skewness",
                "kurtosis", "flux", "fspl", "loudness", "sharpness"]

OUT_COLS = ["doc_id", "seg_idx", "center", "ts", "energy", "rms", "spl",
            "centroid", "spread", "skewness", "kurtosis", "flux", "fspl",
            "loudness", "sharpness", "entropy"]


def _active_features(cfg: "FeatureConfig") -> list:
    if cfg.features is None:
        return list(FEATURE_COLS)
    bad = set(cfg.features) - set(FEATURE_COLS)
    if bad:
        raise ValueError(f"unknown features: {sorted(bad)}")
    return [f for f in FEATURE_COLS if f in cfg.features]


def _schema_and_cols(cfg: "FeatureConfig", split: bool) -> tuple[str, list]:
    """(mapInPandas schema, final output column order) honoring the
    feature subset and the optional roughness column."""
    feats = _active_features(cfg)
    parts = ["doc_id string", "seg_idx int", "center long", "ts double"]
    for f in feats:
        if f == "sharpness" and split:
            parts += ["sharp_num double", "loud_part double"]
        else:
            parts.append(f"{f} double")
    parts.append("entropy double")
    cols = ["doc_id", "seg_idx", "center", "ts"] + feats + ["entropy"]
    if cfg.with_roughness:
        parts.append("roughness double")
        cols.append("roughness")
    return ", ".join(parts), cols


def _battery_batched(blocks: list, cfg: FeatureConfig,
                     frqs: np.ndarray, bank: np.ndarray,
                     final_sharpness: bool = False) -> dict[str, np.ndarray]:
    """The full per-segment battery over MANY docs/chunks stacked into
    one matrix — one
    rfft call and one pass of row-wise kernels per Arrow batch instead
    of per doc (the per-doc overhead dominates on short-doc corpora,
    which is the 10^12-sequence shape).

    Everything row-wise is batch-invariant by construction. The two
    cross-row computations are handled explicitly:

    - flux: ``np.gradient`` along time must not cross block borders —
      batched gradient is bit-identical for interior rows, and each
      block's first/last row is recomputed with np.gradient's exact
      one-sided edge formula (single-row blocks get flux 0, matching
      ``spectral_flux``'s guard);
    - sharpness: the denominator is per-block (critical_bands.py:115),
      summed over each block's contiguous slice in the same order
      ``loud_part.sum()`` would use.
    """
    counts = np.array([b.shape[0] for b in blocks], dtype="int64")
    offsets = np.concatenate([[0], np.cumsum(counts)])
    starts, ends = offsets[:-1], offsets[1:]
    segs = np.vstack(blocks)

    feats = _active_features(cfg)
    want = set(feats)
    spectral = want & {"centroid", "spread", "skewness", "kurtosis",
                       "flux", "fspl", "loudness", "sharpness"}
    mag = (kernels.rfft_mag(segs, cfg.window, cfg.n_fft, cfg.norm)
           if spectral or cfg.with_roughness else None)
    need_spread = want & {"spread", "skewness", "kurtosis"}
    cen = (kernels.spectral_centroid(frqs, mag)
           if want & {"centroid", "spread", "skewness", "kurtosis"} else None)
    spr = kernels.spectral_spread(frqs, mag, cen) if need_spread else None

    out = {}
    if "energy" in want:
        out["energy"] = kernels.energy(segs)
    if "rms" in want:
        out["rms"] = kernels.rms(segs)
    if "spl" in want:
        out["spl"] = kernels.spl(segs)
    if "centroid" in want:
        out["centroid"] = cen
    if "spread" in want:
        out["spread"] = spr
    if "skewness" in want:
        out["skewness"] = kernels.spectral_skewness(frqs, mag, cen, spr)
    if "kurtosis" in want:
        out["kurtosis"] = kernels.spectral_kurtosis(frqs, mag, cen, spr)
    if "flux" in want:
        flux = kernels.spectral_flux(mag)
        multi = counts >= 2
        if segs.shape[0] > 1:
            one_s = starts[counts == 1]
            flux[one_s] = 0.0
            s, e = starts[multi], ends[multi]
            if s.size:
                flux[s] = np.maximum(
                    (mag[s + 1] - mag[s]) / 1.0, 0.0).sum(axis=1)
                flux[e - 1] = np.maximum(
                    (mag[e - 1] - mag[e - 2]) / 1.0, 0.0).sum(axis=1)
        out["flux"] = flux
    if "fspl" in want:
        out["fspl"] = kernels.fspl(mag, total=True)
    if want & {"loudness", "sharpness"}:
        cbrs = mag @ bank.T
        loud_spec = kernels.specific_loudness(cbrs)
        if "loudness" in want:
            out["loudness"] = loud_spec.sum(axis=1)
        if "sharpness" in want:
            z = np.arange(1, 25, dtype="float64")
            w = np.maximum(1.0, 0.066 * np.exp(0.171 * z))
            sharp_num = cbrs @ (z * w)
            loud_part = np.maximum(
                loud_spec, np.finfo("float64").eps).sum(axis=1)
            if final_sharpness:
                denoms = np.array([loud_part[s:e].sum()
                                   for s, e in zip(starts, ends)])
                out["sharpness"] = sharp_num / np.repeat(denoms, counts)
            else:
                out["sharp_num"] = sharp_num
                out["loud_part"] = loud_part
    if cfg.with_entropy:
        ent = np.empty(segs.shape[0])
        for i in range(segs.shape[0]):
            emb = kernels.delay_embedding(
                segs[i], cfg.entropy_delay, cfg.entropy_m_dims)
            ent[i] = kernels.embedding_entropy(emb, cfg.entropy_bins)
        out["entropy"] = ent
    else:
        out["entropy"] = np.full(segs.shape[0], np.nan)
    if cfg.with_roughness:
        d_frq = frqs[1] - frqs[0] if frqs.size > 1 else 1.0
        out["roughness"] = kernels.roughness_helmholtz(
            d_frq, mag, cfg.roughness_frq_max, total=True)
    return out


def _finalize_sharpness(df: DataFrame) -> DataFrame:
    """sharpness = sharp_num / sum(loud_part) over the doc
    (critical_bands.py:110-124: the denominator is ONE scalar per
    spectrogram). Window sum keeps split/unsplit paths bit-identical."""
    denom = F.sum("loud_part").over(Window.partitionBy("doc_id"))
    return (
        df.withColumn("sharpness", F.col("sharp_num") / denom)
        .drop("sharp_num", "loud_part")
    )


def extract_features(docs: DataFrame, cfg: FeatureConfig = FeatureConfig(),
                     split: bool = False,
                     chunk_segs: int = 1024) -> DataFrame:
    """Per (doc, segment) feature battery.

    ``split=False``: one mapInPandas over whole docs — zero shuffles
    before the (small) sharpness window.
    ``split=True``: halo-split chunks first (skewed long docs), spread
    by ``split_docs_halo``'s round-robin chunk exchange; same output,
    exactly.
    """
    p = cfg.framing
    if split:
        return _extract_split(docs, cfg, chunk_segs)

    n_perseg, n_overlap = p.n_perseg, p.n_overlap
    extend, pad, causal = p.extend, p.pad, cfg.causal
    cfg_b = cfg
    schema, out_cols = _schema_and_cols(cfg, split=False)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n_fft = cfg_b.n_fft or n_perseg
        frqs = kernels.rfftfreq(n_fft, cfg_b.fps)
        bank = kernels.bark_filter_bank(frqs)
        for pdf in batches:
            ids, blocks, centers_l, tot = [], [], [], 0

            def flush():
                feats = _battery_batched(blocks, cfg_b, frqs, bank,
                                         final_sharpness=True)
                counts = [b.shape[0] for b in blocks]
                centers = np.concatenate(centers_l)
                res = {"doc_id": np.repeat(
                           np.array(ids, dtype=object), counts),
                       "seg_idx": np.concatenate(
                           [np.arange(c, dtype="int32") for c in counts]),
                       "center": centers,
                       "ts": centers / cfg_b.fps}
                res.update(feats)
                return pd.DataFrame(res)[out_cols]

            for doc_id, tokens in zip(pdf["doc_id"], pdf["tokens"]):
                sig = np.asarray(tokens, dtype="float64")
                if sig.size < n_perseg:
                    continue
                if causal:
                    segs, centers = kernels.causal_frame_signal(
                        sig, n_perseg, n_overlap)
                else:
                    segs = kernels.frame_signal(
                        sig, n_perseg, n_overlap, extend, pad)
                    centers = kernels.segment_centers(
                        segs.shape[0], n_perseg, n_overlap, extend)
                ids.append(doc_id)
                blocks.append(segs)
                centers_l.append(centers)
                tot += segs.size
                # cap the stacked matrix (~128 MB float64): bounds peak
                # worker memory independent of Arrow row-batch sizing,
                # so whale batches can't stack multi-GB matrices
                if tot >= _FLUSH_ELEMS:
                    yield flush()
                    ids, blocks, centers_l, tot = [], [], [], 0
            if blocks:
                yield flush()

    # whole doc per UDF call => sharpness finalized in-UDF: the plan is
    # Scan -> Project -> MapInPandas, ZERO shuffles.
    return docs.select("doc_id", "tokens").mapInPandas(gen, schema)


def _extract_split(docs: DataFrame, cfg: FeatureConfig,
                   chunk_segs: int) -> DataFrame:
    """Skew path: chunked extraction with flux halo."""
    p = cfg.framing
    chunks = split_docs_halo(docs, p, chunk_segs=chunk_segs, flux_halo=1,
                             causal=cfg.causal)
    n_perseg, n_overlap, step = p.n_perseg, p.n_overlap, p.step
    # causal centers are i*step (kernels.causal_frame_signal); the
    # chunk slice already starts n_perseg-1 before the owned segment,
    # so plain non-extended framing inside the chunk reproduces the
    # causal windows exactly.
    offset = 0 if cfg.causal else p.offset
    cfg_b = cfg
    schema, out_cols = _schema_and_cols(cfg, split=True)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n_fft = cfg_b.n_fft or n_perseg
        frqs = kernels.rfftfreq(n_fft, cfg_b.fps)
        bank = kernels.bark_filter_bank(frqs)
        for pdf in batches:
            ids, blocks, takes, seg_idx_l = [], [], [], []
            base = 0

            def flush():
                feats = _battery_batched(blocks, cfg_b, frqs, bank)
                take = np.concatenate(takes)
                counts = [t.size for t in takes]
                seg_idx = np.concatenate(seg_idx_l)
                centers = seg_idx.astype("int64") * step + offset
                res = {"doc_id": np.repeat(
                           np.array(ids, dtype=object), counts),
                       "seg_idx": seg_idx,
                       "center": centers,
                       "ts": centers / cfg_b.fps}
                for key, val in feats.items():
                    res[key] = val[take]
                return pd.DataFrame(res)

            for row in pdf.itertuples(index=False):
                sig = np.asarray(row.chunk_tokens, dtype="float64")
                # chunk tokens were materialized so that plain
                # non-extended framing reproduces the owned segments
                segs = kernels.frame_signal(
                    sig, n_perseg, n_overlap, extend=False, pad=False)
                lo, n_local = row.halo_lo, row.n_local_segs
                ids.append(row.doc_id)
                blocks.append(segs)
                takes.append(np.arange(base + lo, base + lo + n_local))
                seg_idx_l.append(np.arange(
                    row.seg_base, row.seg_base + n_local, dtype="int32"))
                base += segs.shape[0]
                if base * n_perseg >= _FLUSH_ELEMS:
                    yield flush()
                    ids, blocks, takes, seg_idx_l = [], [], [], []
                    base = 0
            if blocks:
                yield flush()

    raw = chunks.mapInPandas(gen, schema)
    if "sharpness" in _active_features(cfg):
        raw = _finalize_sharpness(raw)
    return raw.select(out_cols)


def dft_docs(docs: DataFrame, cfg: FeatureConfig = FeatureConfig(),
             parts: tuple = ("abs",), max_bins: int | None = None) -> DataFrame:
    """Whole-signal spectrum per doc (reference Dft.transform,
    spectral.py:217-233) with abs/power/phase parts
    (TransformResult, spectral.py:66-131).

    Scale caveat: a 1M-token doc yields 500k bins; ``max_bins``
    truncates the emitted arrays (the full transform still runs)."""
    window, norm, fps = cfg.window, cfg.norm, cfg.fps
    n_fft_cfg = cfg.n_fft
    part_fns = {"abs": np.abs, "power": lambda b: np.square(np.abs(b)),
                "phase": np.angle}
    for p in parts:
        if p not in part_fns:
            raise ValueError(p)

    def dft(doc_id, tokens):
        sig = np.asarray(tokens, dtype="float64")
        n_fft = n_fft_cfg or sig.size
        bins = kernels.rfft_full(sig[None, :], window, n_fft, norm)
        return {"n_fft": n_fft, "d_frq": fps / n_fft,
                **{p: part_fns[p](bins)[:, :max_bins or None]
                   for p in parts}}

    cols = ", ".join(f"{p} array<double>" for p in parts)
    return map_docs(
        docs, dft, f"doc_id string, n_fft int, d_frq double, {cols}")
