"""Framing / segmentation operators over the docs table.

The docs table ``(doc_id string, tokens array<int>, n_tok int, source
string)`` holds one whole sequence per row, so framed short-time
analysis (reference: segment.py:156-237) is embarrassingly parallel by
doc. The engine therefore runs framing WITHOUT a shuffle: a
``mapInPandas`` stage consumes whole docs from the parquet scan and
emits segment rows. For skewed (very long) docs, ``split_docs_halo``
pre-splits each sequence into halo-overlapped chunks with pure array
SQL, so a single whale parallelizes across tasks while every segment is
still produced exactly once.
"""
from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import kernels
from ..session import map_docs


@dataclass(frozen=True)
class FramingParams:
    """Segmentation parameters (reference: segment.py:39-46; defaults
    512/256 per SegmentationParams)."""
    n_perseg: int = 512
    n_overlap: int = 256
    extend: bool = True
    pad: bool = True

    def __post_init__(self) -> None:
        if self.n_perseg <= 0:
            raise ValueError("n_perseg must be > 0")
        if not 0 < self.n_overlap < self.n_perseg:
            raise ValueError("0 < n_overlap < n_perseg required")

    @property
    def step(self) -> int:
        return self.n_perseg - self.n_overlap

    @property
    def ext_len(self) -> int:
        return self.n_perseg // 2 if self.extend else 0

    @property
    def offset(self) -> int:
        """Center offset (segment.py:62-68)."""
        return 0 if self.extend else self.n_perseg // 2


# ---------------------------------------------------------------------------
# Exploded frames view + per-row invariant
# ---------------------------------------------------------------------------

def explode_frames(docs: DataFrame) -> DataFrame:
    """(doc_id, position, token) exploded view — the engine analogue of
    the reference's implicit sample index (SURVEY §1.1)."""
    return docs.select(
        "doc_id",
        F.posexplode("tokens").alias("position", "token"),
    )


def reassembled_equal(docs: DataFrame) -> DataFrame:
    """Per-row invariant (BASELINE input_hint): explode then reassemble
    by position; compare with the source array exactly. Returns
    (doc_id, ok boolean)."""
    frames = explode_frames(docs)
    rebuilt = (
        frames.groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("position", "token"))).alias("pt"))
        .select("doc_id", F.col("pt.token").alias("rebuilt"))
    )
    return (
        docs.select("doc_id", "tokens")
        .join(rebuilt, "doc_id")
        .select("doc_id", (F.col("tokens") == F.col("rebuilt")).alias("ok"))
    )


# ---------------------------------------------------------------------------
# n_segs as a SQL expression (needed by the halo splitter)
# ---------------------------------------------------------------------------

def n_segments_col(n_tok: Column, p: FramingParams) -> Column:
    """Segment count as a Column (mirrors kernels.n_segments; the
    ``pmod`` keeps the pad arithmetic non-negative like Python's %)."""
    pad_len = (
        F.pmod(F.pmod(-(n_tok - F.lit(p.n_perseg)), F.lit(p.step)), F.lit(p.n_perseg))
        if p.pad else F.lit(0)
    )
    total = n_tok + F.lit(2 * p.ext_len) + pad_len
    return ((total - F.lit(p.n_overlap)) / F.lit(p.step)).cast("int")


# ---------------------------------------------------------------------------
# Segment table via mapInPandas (no shuffle)
# ---------------------------------------------------------------------------

SEGMENTS_SCHEMA = (
    "doc_id string, seg_idx int, center long, start long, stop long, "
    "frame array<double>"
)


def segment_docs(docs: DataFrame, p: FramingParams) -> DataFrame:
    """Segment every doc into overlapping frames.

    Output: one row per (doc, segment) with absolute center/bounds in
    the original position space (segment.py:96-125: bounds are
    [center - n_perseg//2, center + n_perseg//2), start may be negative
    when ``extend``).

    Docs shorter than n_perseg are skipped (the reference raises,
    segment.py:221-226 — a distributed job must not die on one short
    doc). One ``session.map_docs`` stage: its compact-input spread
    measured 1.75s -> 0.78s here at sf0.1/local[32].
    """
    n_perseg, n_overlap = p.n_perseg, p.n_overlap
    extend, pad = p.extend, p.pad

    def segment(doc_id, tokens):
        sig = np.asarray(tokens, dtype="float64")
        if sig.size < n_perseg:
            return None
        segs = kernels.frame_signal(sig, n_perseg, n_overlap, extend, pad)
        n_segs = segs.shape[0]
        centers = kernels.segment_centers(n_segs, n_perseg, n_overlap, extend)
        return {"seg_idx": np.arange(n_segs, dtype="int32"),
                "center": centers, "start": centers - n_perseg // 2,
                "stop": centers - n_perseg // 2 + n_perseg, "frame": segs}

    return map_docs(docs, segment, SEGMENTS_SCHEMA)


# ---------------------------------------------------------------------------
# Halo split for skewed long docs
# ---------------------------------------------------------------------------

CHUNKS_COLS = ["doc_id", "seg_base", "n_local_segs", "chunk_tokens",
               "halo_lo", "halo_hi"]


def split_docs_halo(docs: DataFrame, p: FramingParams,
                    chunk_segs: int = 4096, flux_halo: int = 1,
                    causal: bool = False) -> DataFrame:
    """Split each doc into chunks of <= ``chunk_segs`` segments with a
    halo so each segment is produced by exactly one chunk.

    Chunk k owns segments [k*chunk_segs, min((k+1)*chunk_segs, n_segs)).
    Its token slice covers those segments' absolute positions plus
    ``flux_halo`` extra segments each side (spectral flux needs the t-1
    and t+1 spectra, features.py:302); out-of-range positions are
    zero-filled, matching the reference's pad semantics
    (segment.py:207-213). Pure array SQL — no Python in this stage.

    Output: (doc_id, seg_base, n_local_segs, chunk_tokens, halo_lo,
    halo_hi) where halo_lo/hi count the halo segments actually included
    at each side (0 at doc edges).
    """
    step, n_perseg = p.step, p.n_perseg
    # causal framing (kernels.causal_frame_signal): segment i covers
    # [i*step - n_perseg + 1, i*step], n_segs = ceil(n_tok/step) — the
    # same chunk algebra with ext = n_perseg-1 and no tail pad.
    ext = (n_perseg - 1) if causal else p.ext_len
    n_segs_col = (
        F.ceil(F.col("n_tok") / F.lit(step)).cast("int") if causal
        else n_segments_col(F.col("n_tok"), p))

    d = docs.select(
        "doc_id", "tokens", "n_tok",
        n_segs_col.alias("n_segs"),
    )
    d = d.where(F.col("n_tok") >= p.n_perseg)
    d = d.withColumn(
        "chunk_id",
        F.explode(F.sequence(
            F.lit(0), F.ceil(F.col("n_segs") / F.lit(chunk_segs)).cast("int") - 1)),
    )
    seg_base = F.col("chunk_id") * chunk_segs
    seg_hi = F.least(seg_base + chunk_segs, F.col("n_segs"))
    halo_lo = F.least(F.lit(flux_halo), seg_base)
    halo_hi = F.least(F.lit(flux_halo), F.col("n_segs") - seg_hi)
    lo_seg = seg_base - halo_lo          # first segment materialized
    hi_seg = seg_hi + halo_hi            # one past last
    # absolute position range the slice must cover (may under/overflow doc)
    start_pos = lo_seg * step - F.lit(ext)
    need_len = (hi_seg - 1 - lo_seg) * step + F.lit(n_perseg)

    pad_front = F.greatest(F.lit(0), -start_pos)
    take_from = F.greatest(F.lit(0), start_pos)          # 0-based
    take_len = F.greatest(
        F.lit(0), F.least(F.col("n_tok") - take_from, need_len - pad_front))
    pad_back = need_len - pad_front - take_len

    zeros = lambda n: F.when(n > 0, F.array_repeat(F.lit(0), n.cast("int"))) \
                       .otherwise(F.array().cast("array<int>"))
    chunk_tokens = F.concat(
        zeros(pad_front),
        F.slice(F.col("tokens"), (take_from + 1).cast("int"), take_len.cast("int")),
        zeros(pad_back),
    )

    out = d.select(
        "doc_id",
        seg_base.cast("int").alias("seg_base"),
        (seg_hi - seg_base).cast("int").alias("n_local_segs"),
        chunk_tokens.alias("chunk_tokens"),
        halo_lo.cast("int").alias("halo_lo"),
        halo_hi.cast("int").alias("halo_hi"),
    )
    # The explode is narrow: without an exchange every chunk of a whale
    # stays in its parent scan partition, so one task still owns the
    # whole whale and becomes a fixed straggler no number of cores can
    # absorb. This round-robin shuffle IS the halo exchange — it moves
    # chunk rows (same total bytes as the input) exactly once and is
    # what buys whale parallelism.
    sc = docs.sparkSession.sparkContext
    return out.repartition(3 * sc.defaultParallelism)


# ---------------------------------------------------------------------------
# Pure-SQL framing paths (tumbling / sliding count-windows, SURVEY §2.10)
# ---------------------------------------------------------------------------

def tumbling_window(frames: DataFrame, n: int) -> DataFrame:
    """Non-overlapping count-window id per frame (reference analogue:
    by_samples with hop = n_perseg, segment.py:327-350)."""
    return frames.withColumn("win_id", (F.col("position") / n).cast("long"))


def sql_segment_ids(frames: DataFrame, p: FramingParams) -> DataFrame:
    """Assign every (position, token) frame the list of seg_idx values
    whose window contains it — the explode+window framing strategy
    (SURVEY §2.2 option b). Costs a x(n_perseg/step) blowup; used for
    validation and for point-lookup queries, not the bulk path."""
    step = p.step
    # segment i covers positions [i*step - ext, i*step - ext + n_perseg):
    # pos in seg i  <=>  ceil((pos+ext-n_perseg+1)/step) <= i <= floor((pos+ext)/step)
    lo = (F.col("position") + F.lit(p.ext_len - p.n_perseg + 1)) / F.lit(step)
    hi = (F.col("position") + F.lit(p.ext_len)) / F.lit(step)
    out = frames.withColumn(
        "seg_idx",
        F.explode(F.sequence(
            F.greatest(F.ceil(lo).cast("int"), F.lit(0)),
            F.floor(hi).cast("int"))),
    )
    if "n_tok" in frames.columns:
        out = out.where(
            F.col("seg_idx") < n_segments_col(F.col("n_tok"), p))
    return out
