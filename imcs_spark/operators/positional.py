"""Positional transforms: filter/thin/unique/reverse/repeat/map/limit/
concat/union — SURVEY §2.2 / §2.4.

Reference: cs_filter imcs.c:3238-3253, cs_filter_pos func.c:2834-2930,
cs_thin func.c:664-768, cs_unique func.c:3737-3856, cs_reverse
func.c:1203-1307, cs_repeat func.c:769-863, cs_map func.c:3646-3736,
cs_limit imcs.c:3154-3175, cs_concat func.c:2353-2456, cs_union
func.c:3857-3937.

Every operator consumes/produces a *series frame* — (pos, value cols
[, id]) logically ordered by (id, pos). Operators that select a
subsequence renumber `pos` densely (the reference's iterators do this
implicitly: each output sequence has positions 0..n-1). Renumbering is
a per-series window — embarrassingly parallel when `partition_by` is
set; pass `renumber=False` mid-chain to skip the extra window when the
next op doesn't need dense positions.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..series import POS, VAL, is_small_plan, with_pos, zip_with_global_pos


def _w(partition_by: Sequence[str] | None, order_by=(POS,)):
    if partition_by:
        return Window.partitionBy(*partition_by).orderBy(*order_by)
    return Window.orderBy(*order_by)


def renumber(
    df: DataFrame,
    partition_by: Sequence[str] | None = None,
    order_by: Sequence[str] = (POS,),
    pos_col: str = POS,
) -> DataFrame:
    """Re-densify positions after a subsequence selection.

    With ``partition_by`` this is a per-series window (parallel). A
    single global series goes through :func:`zip_with_global_pos`,
    which picks its own plan: one window over one partition when the
    frame is small (literal vectors, bounded slices), otherwise
    literal range buckets, a bucket-local ``row_number`` and a literal
    offset array — never a single-partition window over a large frame.
    """
    if partition_by:
        return with_pos(df, list(order_by), partition_by, pos_col)
    return zip_with_global_pos(df, list(order_by), pos_col=pos_col)


def _scalar_count(df: DataFrame, out_col: str = "_cnt") -> DataFrame:
    """Attach the frame's total row count as a column WITHOUT a
    single-partition window: broadcast the 1-row count aggregate. The
    count is deterministic, so re-executing the source lineage on the
    build side is safe (unlike range-partitioner-dependent schemes)."""
    return df.crossJoin(F.broadcast(df.agg(F.count(F.lit(1)).cast("long").alias(out_col))))


def filter_(
    df: DataFrame,
    cond: Column,
    partition_by: Sequence[str] | None = None,
    renum: bool = True,
) -> DataFrame:
    """cs_filter (SQL op `?`): keep rows where cond holds. Predicate is
    pushed into the scan by Catalyst when cond references base columns."""
    out = df.filter(cond)
    return renumber(out, partition_by) if renum else out


def filter_pos(
    df: DataFrame,
    cond: Column,
    partition_by: Sequence[str] | None = None,
    pos_col: str = POS,
) -> DataFrame:
    """cs_filter_pos: original positions where cond holds, as a new
    series (pos, val=original position)."""
    keep = ([*partition_by] if partition_by else []) + [pos_col]
    out = df.filter(cond).select(*keep).withColumnRenamed(pos_col, VAL)
    return renumber(out, partition_by, order_by=(VAL,))


def filter_first_pos(
    df: DataFrame,
    cond: Column,
    n: int,
    partition_by: Sequence[str] | None = None,
    pos_col: str = POS,
) -> DataFrame:
    """cs_filter_first_pos: first n matching positions per series.
    The reference parallelizes this with a position-ordered merge
    (func.c:2931-2980); here row_number + filter — Catalyst executes it
    as a rank-limit per partition."""
    out = filter_pos(df, cond, partition_by)
    return out.filter(F.col(POS) < n)


def thin(
    df: DataFrame,
    origin: int,
    step: int,
    partition_by: Sequence[str] | None = None,
    pos_col: str = POS,
) -> DataFrame:
    """cs_thin: every step-th element starting at origin."""
    out = df.filter(((F.col(pos_col) - origin) % step == 0) & (F.col(pos_col) >= origin))
    return renumber(out, partition_by)


def unique(
    df: DataFrame,
    val_col: str = VAL,
    partition_by: Sequence[str] | None = None,
    pos_col: str = POS,
) -> DataFrame:
    """cs_unique: collapse *adjacent* duplicates (NOT distinct —
    reference semantics, func.c:3737-3856).

    Per-series (partition_by) and small global frames
    (series.is_small_plan) use a lag window. A large global series
    exploits the dense-pos convention instead: the previous element of
    row p is the row at p-1, so adjacent-lag is a hash equi-join on
    pos — fully parallel, no global window."""
    # NULL-safe adjacency: `val != prev` under three-valued logic both
    # DROPS a NULL that follows a value (NULL != x is NULL -> filtered)
    # and KEEPS adjacent NULL duplicates (prev.isNull() conflated
    # "first row" with "previous value is NULL"). Compare with
    # eqNullSafe and detect the first row explicitly — the same
    # pattern series.run_id uses for this hazard.
    if partition_by or is_small_plan(df):
        w = _w(partition_by, (pos_col,))
        prev = F.lag(F.col(val_col)).over(w)
        first = F.lag(F.lit(1)).over(w).isNull()
        out = df.withColumn("_keep", first | ~F.col(val_col).eqNullSafe(prev)).filter(
            F.col("_keep")
        ).drop("_keep")
        return renumber(out, partition_by)
    prev_src = df.select(
        (F.col(pos_col) + 1).alias(pos_col),
        F.col(val_col).alias("_prev"),
        F.lit(1).alias("_has_prev"),
    )
    out = (
        df.join(prev_src, pos_col, "left")
        .filter(
            F.col("_has_prev").isNull()
            | ~F.col(val_col).eqNullSafe(F.col("_prev"))
        )
        .drop("_prev", "_has_prev")
    )
    return renumber(out, None)


def reverse(
    df: DataFrame,
    partition_by: Sequence[str] | None = None,
    pos_col: str = POS,
) -> DataFrame:
    """cs_reverse: relabel pos = count-1-pos (no data movement; the
    ordering convention is logical)."""
    if partition_by:
        cnt = F.count(F.lit(1)).over(Window.partitionBy(*partition_by))
        return df.withColumn(pos_col, cnt - 1 - F.col(pos_col))
    # global: broadcast the 1-row count instead of a whole-frame window
    # (Window.partitionBy() with no keys collapses to one partition).
    out = _scalar_count(df)
    return out.withColumn(pos_col, F.col("_cnt") - 1 - F.col(pos_col)).drop("_cnt")


def repeat(
    df: DataFrame,
    n: int,
    partition_by: Sequence[str] | None = None,
    pos_col: str = POS,
) -> DataFrame:
    """cs_repeat: each element n times; new pos = pos*n + k. Pure
    narrow transform (explode), no shuffle."""
    if n <= 0:
        # F.sequence(0, n-1) would count DOWNWARD for n <= 0 (step
        # defaults to -1 when start > stop), silently duplicating
        # every row; zero repetitions is an empty series
        return df.filter(F.lit(False))
    out = df.withColumn("_k", F.explode(F.sequence(F.lit(0), F.lit(n - 1))))
    return out.withColumn(pos_col, F.col(pos_col) * n + F.col("_k")).drop("_k")


def map_positions(
    df: DataFrame,
    positions: DataFrame,
    partition_by: Sequence[str] | None = None,
    pos_col: str = POS,
) -> DataFrame:
    """cs_map / project-by-positions: gather df[positions[i]].
    positions is a series frame whose `val` holds source positions.
    Join on pos — broadcast when the position list is small (the common
    case: output of filter_pos/top_pos on a slice)."""
    pos_src = positions.select(
        *([*partition_by] if partition_by else []),
        F.col(POS).alias("_out_pos"),
        F.col(VAL).alias(pos_col),
    )
    keys = ([*partition_by] if partition_by else []) + [pos_col]
    out = df.join(pos_src, on=keys, how="inner")
    return out.withColumn(pos_col, F.col("_out_pos")).drop("_out_pos")


def limit(
    df: DataFrame,
    from_pos: int = 0,
    till_pos: int | None = None,
    partition_by: Sequence[str] | None = None,
    pos_col: str = POS,
    total: int | None = None,
) -> DataFrame:
    """cs_limit / << / >>: positional subsequence, negatives from the
    end (imcs.c:3154-3175). Negative bounds need the series length —
    resolved per-series via a window count (one pass); globally via a
    broadcast 1-row count, never a whole-frame window."""
    if (from_pos < 0 or (till_pos is not None and till_pos < 0)) and total is None:
        if partition_by:
            cnt = F.count(F.lit(1)).over(Window.partitionBy(*partition_by))
            df = df.withColumn("_cnt", cnt)
        else:
            df = _scalar_count(df)
        lo = F.lit(from_pos) if from_pos >= 0 else F.col("_cnt") + from_pos
        hi = None if till_pos is None else (F.lit(till_pos) if till_pos >= 0 else F.col("_cnt") + till_pos)
    else:
        n = total or 0
        lo = F.lit(from_pos if from_pos >= 0 else n + from_pos)
        hi = None if till_pos is None else F.lit(till_pos if till_pos >= 0 else n + till_pos)
    out = df.filter(F.col(pos_col) >= lo)
    if hi is not None:
        out = out.filter(F.col(pos_col) <= hi)
    if "_cnt" in out.columns:
        out = out.drop("_cnt")
    return renumber(out, partition_by)


def head(df: DataFrame, n: int, partition_by=None) -> DataFrame:
    # n=0 must be EMPTY: mapping it through till_pos = -1 would hit the
    # negative-from-end convention and return the whole frame
    if n <= 0:
        return renumber(df.limit(0), partition_by)
    return limit(df, 0, n - 1, partition_by)


def tail(df: DataFrame, n: int, partition_by=None) -> DataFrame:
    # -0 == 0 would resolve to from_pos=0 (the whole frame), not empty
    if n <= 0:
        return renumber(df.limit(0), partition_by)
    return limit(df, -n, None, partition_by)


def cut_head(df: DataFrame, n: int, partition_by=None) -> DataFrame:
    return limit(df, n, None, partition_by)


def cut_tail(df: DataFrame, n: int, partition_by=None) -> DataFrame:
    return limit(df, 0, -n - 1, partition_by)


def if_streams(
    cond: DataFrame,
    a: DataFrame,
    b: DataFrame,
    val_col: str = VAL,
    pos_col: str = POS,
    partition_by: Sequence[str] | None = None,
) -> DataFrame:
    """cs_if (imcs.c:3223-3237, func.c:2559-2681): conditional with
    *demand-driven* operand consumption — a and b are independent
    streams; each true cond pulls the next unconsumed element of a,
    each false cond the next of b (unlike cs_iif, which advances both).

    Declarative formulation: the k-th true condition reads a[k], the
    k-th false condition reads b[k] — running indices via an exclusive
    prefix sum, then two position joins. No sequential state needed.
    """
    keys = [*partition_by] if partition_by else []
    w = _w(partition_by, (pos_col,)).rowsBetween(Window.unboundedPreceding, -1)
    c = F.col(val_col).cast("boolean")
    idx = cond.withColumn("_true_before", F.coalesce(F.sum(c.cast("long")).over(w), F.lit(0)))
    idx = idx.withColumn(
        "_false_before", F.col(pos_col) - F.col("_true_before")
    ).withColumnRenamed(val_col, "_cond")
    a_src = a.select(*keys, F.col(pos_col).alias("_true_before"), F.col(val_col).alias("_aval"))
    b_src = b.select(*keys, F.col(pos_col).alias("_false_before"), F.col(val_col).alias("_bval"))
    out = (
        idx.join(a_src, on=keys + ["_true_before"], how="left")
        .join(b_src, on=keys + ["_false_before"], how="left")
        .withColumn(
            val_col,
            F.when(F.col("_cond").cast("boolean"), F.col("_aval")).otherwise(F.col("_bval")),
        )
    )
    return out.select(*keys, pos_col, val_col)


def concat(a: DataFrame, b: DataFrame, pos_col: str = POS) -> DataFrame:
    """cs_concat (op `|||`): sequence concatenation — union with the
    second operand's positions offset by count(a). One tiny count job;
    rows never move."""
    n = a.count()
    return a.unionByName(b.withColumn(pos_col, F.col(pos_col) + F.lit(n)))


def union_sorted(a: DataFrame, b: DataFrame, val_col: str = VAL) -> DataFrame:
    """cs_union: merge two sorted sequences (func.c:3857-3937) —
    delegates to joins.union_merge, the single implementation of this
    operator (it additionally supports partition_by; two copies had
    already started drifting in capability)."""
    from .joins import union_merge

    return union_merge(a, b, val_col)
