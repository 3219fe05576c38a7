"""Point-in-time (as-of) join — the north-rule core operator.

The reference composes arrays positionally in one process (its implicit
as-of gathers: segment<->position alignment segment.py:96-125, onset
gathers segment.py:445-475). Spark has no native as-of join, and a
plain range predicate degenerates to BroadcastNestedLoopJoin. The
engine runs one single-shuffle sort-merge instead: union both sides,
one window sort per ``by`` partition, LOCF the right row onto left
rows. O((|L|+|R|) log) per partition, no row blowup; ``backward``,
``forward`` and ``nearest`` all share it.
"""
from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_TAG = "__asof_is_left"
_RT = "__asof_rt"


def _prep(left: DataFrame, right: DataFrame, on: str, right_on: str,
          by: Sequence[str], value_cols: Sequence[str] | None):
    if value_cols is None:
        value_cols = [c for c in right.columns
                      if c != right_on and c not in by]
    overlap = set(value_cols) & set(left.columns)
    if overlap:
        raise ValueError(f"right value columns collide with left: {overlap}")
    return list(value_cols)


def asof_join(left: DataFrame, right: DataFrame, on: str,
              by: str | Sequence[str] = (), right_on: str | None = None,
              value_cols: Sequence[str] | None = None,
              allow_exact: bool = True, tolerance: float | None = None,
              direction: str = "backward") -> DataFrame:
    """For every left row, attach the most recent right row with
    ``right_on <= on`` (or ``<`` when not ``allow_exact``) within the
    same ``by`` group. Left rows with no match keep nulls.

    ``tolerance``: optional max allowed ``on - right_on`` distance;
    matches further back are nulled (pd.merge_asof semantics).

    ``direction``: ``"backward"`` (default, the point-in-time-correct
    lookback), ``"forward"`` — the EARLIEST right row with
    ``right_on >= on`` (next event after t), or ``"nearest"`` —
    whichever side is closer in absolute distance, ties to backward
    (pd.merge_asof parity for all three). Forward is implemented by
    time negation and delegates to the backward path, so every
    tolerance / allow_exact combination behaves identically;
    tolerance then bounds ``right_on - on``. Nearest fills both
    directions from ONE sort — no extra shuffle.
    """
    by = [by] if isinstance(by, str) else list(by)
    right_on = right_on or on
    value_cols = _prep(left, right, on, right_on, by, value_cols)
    if direction == "forward":
        neg_on, neg_rt = f"__neg_{on}", f"__neg_{right_on}__r"
        l2 = left.withColumn(neg_on, -F.col(on).cast("double"))
        r2 = right.withColumn(neg_rt, -F.col(right_on).cast("double")) \
                  .drop(right_on)
        out = asof_join(l2, r2, on=neg_on, by=by, right_on=neg_rt,
                        value_cols=value_cols, allow_exact=allow_exact,
                        tolerance=tolerance, direction="backward")
        return out.drop(neg_on)
    if direction not in ("backward", "nearest"):
        raise ValueError(f"unknown direction {direction!r}")
    return _asof_union(left, right, on, right_on, by, value_cols,
                       allow_exact, tolerance, direction)


def _apply_tolerance(out: DataFrame, on: str, value_cols: Sequence[str],
                     tolerance: float | None,
                     absolute: bool = False) -> DataFrame:
    if tolerance is None:
        return out.drop(_RT)
    delta = F.col(on).cast("double") - F.col(_RT)
    if absolute:           # nearest: bound |t - rt| either direction
        delta = F.abs(delta)
    ok = F.col(_RT).isNotNull() & (delta <= tolerance)
    for c in value_cols:
        out = out.withColumn(c, F.when(ok, F.col(c)))
    return out.drop(_RT)


def _asof_union(left: DataFrame, right: DataFrame, on: str, right_on: str,
                by: list, value_cols: list, allow_exact: bool,
                tolerance: float | None,
                direction: str = "backward") -> DataFrame:
    left_cols = left.columns
    # right rows sort BEFORE left rows at equal time when exact matches
    # are allowed, after them otherwise
    r_tag, l_tag = (0, 1) if allow_exact else (1, 0)
    lhs = left.withColumn(_TAG, F.lit(l_tag)).withColumn(_RT, F.lit(None).cast("double"))
    rhs = right.select(
        *by,
        F.col(right_on).alias(on),
        F.col(right_on).cast("double").alias(_RT),
        *[F.col(c) for c in value_cols],
    ).withColumn(_TAG, F.lit(r_tag))
    for c in left_cols:
        if c not in rhs.columns:
            rhs = rhs.withColumn(c, F.lit(None).cast(dict(left.dtypes)[c]))
    for c in value_cols:
        lhs = lhs.withColumn(c, F.lit(None).cast(dict(rhs.dtypes)[c]))
    cols = by + [on, _TAG, _RT] + \
        [c for c in left_cols if c not in by and c != on] + value_cols
    unioned = lhs.select(cols).unionByName(rhs.select(cols))

    order = [F.col(on).asc(), F.col(_TAG).asc()]
    w = (Window.partitionBy(*by).orderBy(*order)
         .rowsBetween(Window.unboundedPreceding, 0))
    # ROW-ATOMIC fill: carry the whole matched right row as one struct
    # (null on left rows). Per-column last(ignorenulls) would skip a
    # null VALUE and attach an older row's value to the matched row's
    # timestamp — pd.merge_asof attaches the matched row verbatim,
    # NaN values included.
    match = F.when(
        F.col(_RT).isNotNull(),
        F.struct(F.col(_RT).alias("__match_t"),
                 *[F.col(c).alias(c) for c in value_cols]))
    fills = [F.last(match, ignorenulls=True).over(w).alias("__b")]
    if direction == "nearest":
        # mirrored fill over the FOLLOWING rows. The forward ordering
        # flips the tag (on asc, tag DESC): equal-time right rows then
        # sort AFTER the left row when exact matches are allowed
        # (visible to [0, following]) and BEFORE it in strict mode
        # (excluded) — the exact mirror of the backward tag trick.
        # Same partitioning hash: one exchange serves both fills.
        wf = (Window.partitionBy(*by)
              .orderBy(F.col(on).asc(), F.col(_TAG).desc())
              .rowsBetween(0, Window.unboundedFollowing))
        fills.append(F.first(match, ignorenulls=True).over(wf).alias("__g"))
    filled = unioned.select("*", *fills)

    if direction == "nearest":
        t = F.col(on).cast("double")
        b_rt, g_rt = F.col("__b.__match_t"), F.col("__g.__match_t")
        delta_b = t - b_rt
        delta_f = g_rt - t
        valid_f = g_rt.isNotNull() & \
            ((delta_f > 0) if not allow_exact else F.lit(True))
        valid_b = b_rt.isNotNull()
        use_f = valid_f & (~valid_b | (delta_f < delta_b))
        sel_vals = [
            F.when(use_f, F.col(f"__g.{c}"))
            .when(valid_b, F.col(f"__b.{c}")).alias(c)
            for c in value_cols]
        sel_rt = F.when(use_f, g_rt).when(valid_b, b_rt).alias(_RT)
        out = (filled.where(F.col(_TAG) == l_tag)
               .select(*[c for c in left_cols], *sel_vals, sel_rt))
        return _apply_tolerance(out, on, value_cols, tolerance,
                                absolute=True)

    out = (
        filled.where(F.col(_TAG) == l_tag)
        .select(*[c for c in left_cols],
                *[F.col(f"__b.{c}").alias(c) for c in value_cols],
                F.col("__b.__match_t").alias(_RT))
    )
    return _apply_tolerance(out, on, value_cols, tolerance)
