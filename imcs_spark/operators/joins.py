"""Ordered-sequence joins: equi (merge), as-of (nearest), directional,
stretch / gap-fill — SURVEY §2.4.

Reference: cs_join_pos/cs_join func.c:4677-4799 (merge equi-join of two
sorted sequences, emitting matched positions/values); cs_asof_join(_pos)
func.c:4499-4676 — for each left timestamp pick the *nearest* right
element, ties to the earlier (≤) one; TABLE_join / imcs_join_unsorted
func.c:6494-6553 with direction -1/0/+1 = preceding/exact/succeeding;
cs_stretch func.c:4308-4392; cs_stretch0 func.c:4393-4498; cs_union
func.c:3857-3937.

Spark-first execution — the union+window pattern:
tag both sides, union, one window pass ordered by (ts, side) per
by-group fills the prev/next right-hand value onto every left row.
This is a single shuffle on the by-keys (or a range shuffle when
global), scales linearly, and never collects a side to the driver —
versus pd.merge_asof which needs co-partitioned pandas groups.
With by-keys (the common multi-series case) every window is
per-series and fully parallel.

Exactness note: cs_stretch's iterator advances its right cursor at most
once per left element (func.c:4332-4352, a lockstep quirk observable
only when the right series ticks more than once between two left
elements). :func:`stretch` implements the declarative form — value of
the first right timestamp strictly greater than t, filler when none —
which matches the reference on its documented use (right ⊆ left
timeline, e.g. split adjustment) and all its published examples, and
scales as a pure window pass; :func:`stretch_exact` reproduces the
lockstep state machine bit-for-bit as a per-series Arrow kernel for
callers that need the corner case.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..series import POS, VAL
from .positional import renumber


def join_pos(
    left: DataFrame,
    right: DataFrame,
    val_col: str = VAL,
    partition_by: Sequence[str] | None = None,
) -> DataFrame:
    """cs_join_pos (op `<->`): positions in sorted right whose value
    equals some element of sorted left. Sort-merge/broadcast semi-join;
    Catalyst picks the strategy."""
    keys = [*partition_by] if partition_by else []
    probe = left.select(*keys, val_col).distinct()
    matched = right.join(probe, on=keys + [val_col], how="left_semi")
    out = matched.select(*keys, F.col(POS).cast("long").alias(VAL))
    return renumber(out, keys or None, order_by=(VAL,))


def join_values(
    left: DataFrame,
    right: DataFrame,
    values: DataFrame,
    val_col: str = VAL,
    partition_by: Sequence[str] | None = None,
) -> DataFrame:
    """cs_join: values from `values` at the positions where right
    matches left (values is aligned to right by pos)."""
    keys = [*partition_by] if partition_by else []
    pos_frame = join_pos(left, right, val_col, partition_by)
    vals = values.select(*keys, POS, F.col(val_col).alias("_v"))
    out = pos_frame.join(
        vals.withColumnRenamed(POS, VAL), on=keys + [VAL], how="inner"
    )
    return out.select(*keys, POS, F.col("_v").alias(val_col))


def _tagged_union(
    left: DataFrame,
    right: DataFrame,
    on: str,
    right_payload: list[str],
    by: Sequence[str] | None,
    left_keep: list[str],
    equal_goes_to_right_first: bool,
):
    """Union both sides with a side marker; right rows sort before left
    rows at equal timestamps when equal_goes_to_right_first (so
    'backward' includes equality)."""
    keys = [*by] if by else []
    lmark, rmark = (1, 0) if equal_goes_to_right_first else (0, 1)
    l = left.select(
        *keys,
        F.col(on).alias("_ts"),
        F.lit(lmark).alias("_side"),
        *[F.col(c) for c in left_keep],
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"_r_{c}") for c in right_payload],
    )
    r = right.select(
        *keys,
        F.col(on).alias("_ts"),
        F.lit(rmark).alias("_side"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left_keep],
        *[F.col(c).alias(f"_r_{c}") for c in right_payload],
    )
    return l.unionByName(r), keys, lmark


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "ts",
    by: Sequence[str] | None = None,
    right_cols: Sequence[str] | None = None,
    direction: str = "nearest",
    strict: bool = False,
    filler=None,
    tolerance=None,
) -> DataFrame:
    """As-of join via union + one window pass.

    direction:
      'backward' — last right row with ts ≤ left ts (< if strict)
      'forward'  — first right row with ts ≥ left ts (> if strict)
      'nearest'  — closest of the two; ties to backward
                   (reference cs_asof_join rule, func.c:4549-4551:
                   pick prev when x-prev ≤ next-x)
    Right columns arrive suffixed only on collision. `filler` replaces
    nulls where no match exists (used by stretch).
    `tolerance` (beyond the reference; pandas merge_asof parity)
    rejects a match whose |left ts − matched ts| exceeds it — the row
    then counts as unmatched (NULL, or `filler`). Pass a number for
    numeric keys or an interval Column for timestamps
    (``F.expr("INTERVAL 5 MINUTES")``). Row-local mask over the same
    single pass — no extra shuffle.
    """
    out, keys, lmark, payload = _asof_fill(
        left, right, on, by, right_cols,
        equal_goes_to_right_first=not (direction == "backward" and strict)
        and not (direction == "forward" and not strict),
    )
    out, chosen, mts = _directional_values(out, direction, payload)
    ok = _within_tolerance(mts, tolerance)
    for c in payload:
        val = chosen[c]
        if ok is not None:
            val = F.when(ok, val)
        if filler is not None:
            val = F.coalesce(val, F.lit(filler))
        name = c if c not in left.columns else f"{c}_right"
        out = out.withColumn(name, val)
    out = out.filter(F.col("_side") == lmark)
    drop = ["_side", "_rrow", "_browc", "_frowc"] + [f"_r_{c}" for c in payload] + (
        ["_bts", "_fts"] if direction == "nearest" else []
    )
    return out.withColumnRenamed("_ts", on).drop(*drop)


def asof_join_multi(
    left: DataFrame,
    right: DataFrame,
    on: str = "ts",
    by: Sequence[str] | None = None,
    right_cols: Sequence[str] | None = None,
    directions: Sequence[str] = ("backward", "nearest"),
    strict: bool = False,
    filler=None,
    tolerance=None,
) -> DataFrame:
    """Multi-direction as-of join in ONE union + window pass.

    Several fill semantics over the same timeline pair (e.g. the last
    trade at-or-before each quote AND the nearest one) share the entire
    union / ordering / carry machinery — the only per-direction work is
    the final value selection, which is a row-local expression. Running
    asof_join once per direction instead costs a full shuffle + two
    window passes EACH plus a rejoin of the outputs on a key; at scale
    that multiplies the dominant cost (the shuffle of both inputs) by
    the direction count for zero information gain.

    Output columns are named ``{col}_{direction}`` for each requested
    right column; if the left frame already has a column with that
    name, ``_right`` is appended (same collision convention as
    asof_join — silently overwriting a left column would corrupt the
    caller's frame). All requested directions must agree on the tie
    ordering at equal timestamps: with strict=False that is
    {'backward', 'nearest'}, with strict=True {'forward', 'nearest'}
    (the reference's cs_asof_join tie rule is backward-inclusive,
    func.c:4549-4551); mixing backward and forward raises — call
    asof_join per direction in that case.
    """
    orderings = {
        not (d == "backward" and strict) and not (d == "forward" and not strict)
        for d in directions
    }
    if len(orderings) != 1:
        raise ValueError(
            f"asof_join_multi: directions {list(directions)} (strict={strict}) "
            "need different tie orderings at equal timestamps; "
            "use separate asof_join calls"
        )
    out, keys, lmark, payload = _asof_fill(
        left, right, on, by, right_cols,
        equal_goes_to_right_first=orderings.pop(),
    )
    used_nearest = False
    taken: set[str] = set(left.columns)  # output names must not clash with
    # the left frame OR with each other — a left frame already carrying
    # '{c}_{d}_right', or two (col, direction) pairs canonicalizing to
    # the same name, would otherwise be silently overwritten by
    # withColumn; loop a numeric suffix until the name is free
    for d in directions:
        out, chosen, mts = _directional_values(out, d, payload)
        ok = _within_tolerance(mts, tolerance)
        used_nearest = used_nearest or d == "nearest"
        for c in payload:
            val = chosen[c]
            if ok is not None:
                val = F.when(ok, val)
            if filler is not None:
                val = F.coalesce(val, F.lit(filler))
            name = f"{c}_{d}"
            if name in taken:
                name = f"{c}_{d}_right"
            i = 2
            while name in taken:
                name = f"{c}_{d}_right{i}"
                i += 1
            taken.add(name)
            out = out.withColumn(name, val)
    out = out.filter(F.col("_side") == lmark)
    drop = ["_side", "_rrow", "_browc", "_frowc"] + [f"_r_{c}" for c in payload] + (
        ["_bts", "_fts"] if used_nearest else []
    )
    return out.withColumnRenamed("_ts", on).drop(*drop)


def _asof_fill(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: Sequence[str] | None,
    right_cols: Sequence[str] | None,
    equal_goes_to_right_first: bool,
):
    """Shared core of the as-of family: tag + union both sides, then
    carry the nearest right ROW backward (``_browc``) and forward
    (``_frowc``) onto every row. Returns (frame, keys, lmark, payload)."""
    payload = list(right_cols) if right_cols else [c for c in right.columns if c != on and not (by and c in by)]
    u, keys, lmark = _tagged_union(
        left, right, on, payload, by,
        [c for c in left.columns if c != on and not (by and c in by)],
        equal_goes_to_right_first=equal_goes_to_right_first,
    )
    # ordering: for backward-inclusive and forward-strict, right rows sort
    # first at equal ts; for backward-strict and forward-inclusive, left
    # first. Payload columns break ties among equal-timestamp right rows
    # so last()/first() are deterministic regardless of input order.
    order_cols = ["_ts", "_side"] + [f"_r_{c}" for c in payload]

    # Carry the whole matched right ROW as one struct that is non-null
    # exactly for right-side rows. Carrying payload columns one by one
    # with last(_r_c, ignorenulls=True) conflated a genuinely NULL
    # right payload value with the null placeholder left rows
    # contribute to the union — the window would skip the true as-of
    # match (returning a staler row's value), and different payload
    # columns could be stitched from different right rows. The struct
    # guarantees all payloads AND the matched timestamp come from the
    # same row, and preserves NULL payload values.
    out = u.withColumn(
        "_rrow",
        F.when(
            F.col("_side") != lmark,
            F.struct(
                F.col("_ts").alias("_rts"),
                *[F.col(f"_r_{c}").alias(c) for c in payload],
            ),
        ),
    )
    if keys:
        out = _window_carry(out, keys, order_cols)
    else:
        out = _global_asof_carry(out, order_cols)
    return out, keys, lmark, payload


def _window_carry(out: DataFrame, keys: Sequence[str], order_cols: Sequence[str]) -> DataFrame:
    """Backward (``_browc``) and forward (``_frowc``) right-row carries
    as running windows per ``keys`` partition — one window over the
    whole frame when ``keys`` is empty."""
    w = Window.partitionBy(*keys).orderBy(*order_cols)
    return out.withColumn(
        "_browc",
        F.last("_rrow", ignorenulls=True).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    ).withColumn("_frowc", _forward_carry(keys, order_cols))


def _forward_carry(keys: Sequence[str], order_cols: Sequence[str]) -> F.Column:
    """Nearest non-null right row AT-OR-AFTER the current row — as a
    running ``last(ignorenulls)`` over the REVERSED total order, never
    as ``first(ignorenulls)`` over a ``(0, unboundedFollowing)`` frame:
    Spark evaluates an UnboundedFollowing frame by re-scanning from the
    current row to the partition end for EVERY row, which is O(n²) per
    window partition (round-12 measured: the 60M-row as-of soak never
    finished — ~2×10¹¹ row visits across the per-symbol windows; the
    reversed running frame is incremental O(n) and the same value,
    because desc_nulls_last is the exact reversal of the asc_nulls_first
    total order and the frame still includes the current row)."""
    rev = [F.col(c).desc() for c in order_cols]
    w = Window.partitionBy(*keys).orderBy(*rev)
    return F.last("_rrow", ignorenulls=True).over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )


def _within_tolerance(mts, tolerance):
    """Match-accept mask: None when no tolerance is configured, else
    matched-ts non-null AND |left ts − matched ts| ≤ tolerance. The
    absolute difference is built by branch, not abs(): subtraction of
    timestamps yields a day-time interval, which supports comparison
    but not abs()."""
    if tolerance is None:
        return None
    from pyspark.sql import Column

    tol = tolerance if isinstance(tolerance, Column) else F.lit(tolerance)
    dist = F.when(mts <= F.col("_ts"), F.col("_ts") - mts).otherwise(
        mts - F.col("_ts")
    )
    return mts.isNotNull() & (dist <= tol)


def _directional_values(out: DataFrame, direction: str, payload: list[str]):
    """Row-local value selection for one as-of direction over a frame
    carrying ``_browc`` / ``_frowc``. Returns (frame, {col: Column},
    matched-ts Column)."""
    brow = F.col("_browc")
    frow = F.col("_frowc")
    if direction == "backward":
        return out, {c: brow[c] for c in payload}, brow["_rts"]
    if direction == "forward":
        return out, {c: frow[c] for c in payload}, frow["_rts"]
    # nearest: prev if x - prev_ts <= next_ts - x, else next
    if "_bts" not in out.columns:
        out = out.withColumn("_bts", brow["_rts"]).withColumn("_fts", frow["_rts"])
    prefer_back = (
        F.col("_fts").isNull()
        | (
            F.col("_bts").isNotNull()
            # Subtraction, not cast-to-double: numeric types yield a
            # number, timestamps (incl. TIMESTAMP_NTZ, which forbids
            # numeric casts) yield a comparable day-time interval —
            # one expression covers both with no timezone assumption.
            & (
                (F.col("_ts") - F.col("_bts"))
                <= (F.col("_fts") - F.col("_ts"))
            )
        )
    )
    return out, {
        c: F.when(prefer_back, brow[c]).otherwise(frow[c]) for c in payload
    }, F.when(prefer_back, F.col("_bts")).otherwise(F.col("_fts"))


def _global_asof_carry(out: DataFrame, order_cols: Sequence[str]) -> DataFrame:
    """Scalable GLOBAL as-of carries (no by-keys): Window.orderBy with
    no partitioning executes as Exchange SinglePartition — the whole
    union through ONE task, the exact hazard every other global
    operator here avoids. Instead: bucket by deterministic range
    bounds, run the backward/forward carries per bucket (parallel),
    and stitch bucket boundaries with an O(P) carry — the last
    right-row struct of every earlier bucket / first of every later
    one — computed over a P-row frame and broadcast back. The same
    partition-carry shape as windows.cum_agg_global.

    The bucket id comes from series.range_bucket_expr — a pure
    function of (ts, side) against literal bounds probed once — so the
    boundary pass and the main pass agree on bucketing with NOTHING
    persisted (the prior persist() both leaked storage until session
    end and could not exist at a scale where the union exceeds the
    cache). Bounds use the (ts, side) prefix only: rows tied on the
    full order key share a (ts, side) value and therefore a bucket,
    so bucket ranges still respect the total order."""
    from ..series import is_small_plan, range_bucket_expr

    ocols = [F.col(c) for c in order_cols]
    if is_small_plan(out):
        # fits one task: a plain global window beats paying the probe
        # + bounds job floors (Catalyst estimates err large, so only
        # genuinely small unions take this branch)
        return _window_carry(out, [], order_cols)
    pid_expr, _n = range_bucket_expr(out, ["_ts", "_side"])
    part = out.withColumn("_pid", pid_expr)
    ordkey = F.when(F.col("_rrow").isNotNull(), F.struct(*ocols))
    bounds = part.groupBy("_pid").agg(
        F.max_by("_rrow", ordkey).alias("_plast"),
        F.min_by("_rrow", ordkey).alias("_pfirst"),
    )
    # O(P) rows: the single-partition windows here are bounded by the
    # partition count, not the data
    wprev = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    wnext = Window.orderBy("_pid").rowsBetween(1, Window.unboundedFollowing)
    carries = bounds.select(
        "_pid",
        F.last("_plast", ignorenulls=True).over(wprev).alias("_carry_b"),
        F.first("_pfirst", ignorenulls=True).over(wnext).alias("_carry_f"),
    )
    # bucket-local running carries; the forward one is the reversed
    # running frame, never first() over unboundedFollowing — the _pid
    # partitions are data-sized and that frame is O(n²) per partition
    local = _window_carry(
        part.join(F.broadcast(carries), "_pid", "left"), ["_pid"], order_cols
    )
    return (
        local.withColumn("_browc", F.coalesce("_browc", "_carry_b"))
        .withColumn("_frowc", F.coalesce("_frowc", "_carry_f"))
        .drop("_pid", "_carry_b", "_carry_f")
    )


def asof_join_pos(
    left: DataFrame,
    right: DataFrame,
    val_col: str = VAL,
    partition_by: Sequence[str] | None = None,
) -> DataFrame:
    """cs_asof_join_pos (op `->`): position in right of the nearest
    element for each left value; ties to the earlier one. Output pos
    follows left's order."""
    keys = [*partition_by] if partition_by else []
    r = right.select(*keys, F.col(val_col), F.col(POS).alias("rpos"))
    l = left.select(*keys, POS, val_col)
    joined = asof_join(
        l, r, on=val_col, by=keys or None, right_cols=["rpos"],
        direction="nearest",
    )
    return joined.select(*keys, POS, F.col("rpos").cast("long").alias(VAL))


def asof_join_values(
    left: DataFrame,
    right: DataFrame,
    values: DataFrame,
    val_col: str = VAL,
    partition_by: Sequence[str] | None = None,
) -> DataFrame:
    """cs_asof_join: values (aligned to right by pos) at the nearest
    match."""
    keys = [*partition_by] if partition_by else []
    pos_frame = asof_join_pos(left, right, val_col, partition_by)
    vals = values.select(*keys, F.col(POS).alias(VAL), F.col(val_col).alias("_v"))
    out = pos_frame.join(vals, on=keys + [VAL], how="inner")
    return out.select(*keys, POS, F.col("_v").alias(val_col))


def table_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    direction: int = 0,
    by: Sequence[str] | None = None,
    right_cols: Sequence[str] | None = None,
) -> DataFrame:
    """TABLE_join (imcs--1.1.sql:334-347, func.c:6494-6553): join an
    unsorted probe against the stored sorted timestamp column;
    direction -1/0/+1 = preceding (last ≤) / exact / succeeding
    (first ≥). The reference does one B-Tree descent per probe row;
    Spark plans exact as an equi-join and ±1 as the as-of window."""
    if direction == 0:
        sel = right if right_cols is None else right.select(
            *([*by] if by else []), on, *right_cols
        )
        return left.join(sel, on=([*by] if by else []) + [on], how="inner")
    d = "backward" if direction < 0 else "forward"
    return asof_join(
        left, right, on=on, by=by, right_cols=right_cols, direction=d
    )


def stretch(
    ts1: DataFrame,
    ts2: DataFrame,
    values: DataFrame,
    filler,
    val_col: str = VAL,
    partition_by: Sequence[str] | None = None,
) -> DataFrame:
    """cs_stretch: map each left timestamp to the value attached to the
    first right timestamp strictly greater than it; filler past the
    end. (Split-adjustment gap fill — see module docstring for the
    lockstep caveat.)"""
    keys = [*partition_by] if partition_by else []
    r = ts2.select(*keys, F.col(val_col).alias("_ts2"), POS).join(
        values.select(*keys, POS, F.col(val_col).alias("_sval")), on=keys + [POS]
    ).drop(POS)
    l = ts1.select(*keys, POS, F.col(val_col))
    out = asof_join(
        l,
        r.withColumnRenamed("_ts2", val_col),
        on=val_col,
        by=keys or None,
        right_cols=["_sval"],
        direction="forward",
        strict=True,
    )
    return out.select(
        *keys, POS, F.coalesce(F.col("_sval"), F.lit(filler)).alias(val_col)
    )


def stretch_exact(
    ts1: DataFrame,
    ts2: DataFrame,
    values: DataFrame,
    filler,
    val_col: str = VAL,
    partition_by: Sequence[str] | None = None,
) -> DataFrame:
    """cs_stretch with the reference's EXACT lockstep cursor semantics
    (func.c:4308-4392): walking the left timeline, the right cursor
    advances AT MOST ONCE per left element — when the left timestamp
    has reached the last-read right timestamp, the next (ts2, value)
    pair is consumed and its value emitted from then on; when the right
    side is exhausted the filler is emitted. Observable difference from
    the declarative :func:`stretch` only when the right series ticks
    more than once between two left elements (the cursor lags instead
    of skipping): stretch([1,5], ts2=[2,3], v=[10,20]) → [10, filler]
    declaratively but [10, 20] under lockstep.

    Inherently sequential state machine → per-series Arrow kernel
    (parallel across partition_by groups, the common case); without
    keys it runs as one sequential group — the same fallback the
    reference takes for every non-context-free op (imcs.c:1886-1908).
    Emits val as double."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    keys = [*partition_by] if partition_by else []
    # Keep the timeline comparisons EXACT for integral and timestamp
    # inputs: a double cast rounds int64 above 2^53 (nanosecond epochs
    # collapse to ~256 ns multiples), which can advance the lockstep
    # cursor at the wrong left element — precisely the corner this
    # kernel exists to reproduce bit-for-bit. Values still emit double
    # (the reference's stretch output type).
    ts_dt = ts1.schema[val_col].dataType
    if isinstance(ts_dt, T.TimestampNTZType):
        # LINEAR wall-clock micros (interval since the NTZ epoch), the
        # same convention as series.sessionize: a cast through
        # TIMESTAMP maps wall times to instants via the session
        # timezone, which is NON-INJECTIVE across DST spring-forward —
        # two distinct right-side ticks collapsing to one _t advances
        # the lockstep cursor at the wrong left element, exactly the
        # bit-for-bit corner this kernel exists to preserve
        t_expr = lambda c: (  # noqa: E731
            (F.col(c) - F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"))
            .cast("decimal(30,6)")
            * 1_000_000
        ).cast("long")
        t_np, t_min = "int64", np.iinfo(np.int64).min
    elif isinstance(ts_dt, T.TimestampType):
        t_expr = lambda c: F.unix_micros(F.col(c))  # noqa: E731
        t_np, t_min = "int64", np.iinfo(np.int64).min
    elif isinstance(ts_dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        t_expr = lambda c: F.col(c).cast("long")  # noqa: E731
        t_np, t_min = "int64", np.iinfo(np.int64).min
    else:
        t_expr = lambda c: F.col(c).cast("double")  # noqa: E731
        t_np, t_min = "float64", -np.inf
    r = (
        ts2.select(*keys, POS, F.col(val_col).alias("_rt"))
        .join(values.select(*keys, POS, F.col(val_col).alias("_v")), on=keys + [POS])
        .select(
            *keys,
            F.lit(1).alias("_side"),
            F.col(POS),
            t_expr("_rt").alias("_t"),
            F.col("_v").cast("double"),
        )
    )
    l = ts1.select(
        *keys,
        F.lit(0).alias("_side"),
        F.col(POS),
        t_expr(val_col).alias("_t"),
        F.lit(None).cast("double").alias("_v"),
    )
    both = l.unionByName(r)
    fill = float(filler)

    def apply_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        left = pdf[pdf["_side"] == 0].sort_values(POS)
        right = pdf[pdf["_side"] == 1].sort_values(POS)
        ts2v = right["_t"].to_numpy(dtype=t_np)
        vals = right["_v"].to_numpy(dtype="float64")
        lt = left["_t"].to_numpy(dtype=t_np)
        out = np.empty(len(lt), dtype="float64")
        k, end, cur, next_ts = 0, False, np.nan, t_min
        for i, t in enumerate(lt):
            if not end and t >= next_ts:
                if k < len(ts2v):
                    next_ts, cur = ts2v[k], vals[k]
                    k += 1
                else:
                    end, cur = True, fill
            out[i] = cur
        res = left[[*keys, POS]].copy()
        res[val_col] = out
        return res

    schema_keys = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in ts1.schema.fields if f.name in keys
    )
    schema = (schema_keys + ", " if schema_keys else "") + f"{POS} long, {val_col} double"
    if keys:
        return both.groupBy(*keys).applyInPandas(apply_fn, schema)
    both = both.withColumn("_g", F.lit(0))
    return (
        both.groupBy("_g")
        .applyInPandas(lambda pdf: apply_fn(pdf.drop(columns=["_g"])), schema)
    )


def stretch0(
    ts1: DataFrame,
    ts2: DataFrame,
    values: DataFrame,
    filler,
    val_col: str = VAL,
    partition_by: Sequence[str] | None = None,
) -> DataFrame:
    """cs_stretch0 (func.c:4393-4498): full ordered merge of the two
    timelines — right-side timestamps emit their value (consuming a
    matching left timestamp if equal), unmatched left timestamps emit
    filler. Result ordered by timestamp, right-before-left on ties...
    i.e. a full outer join on the timestamp with filler for left-only
    rows."""
    keys = [*partition_by] if partition_by else []
    # Duplicate timestamps pair ONE-TO-ONE by occurrence (the reference
    # merge consumes one matching left element per right element): each
    # side numbers its duplicates of a timestamp in pos order and the
    # full outer join runs on (ts, occurrence). A bare join on ts would
    # cross-product duplicate groups — ts1=[5,5], ts2=[5] must emit
    # [v, filler], not [v, v]. The per-(ts) window is skew-free: its
    # groups are duplicate runs of one timestamp.
    r = (
        ts2.select(*keys, F.col(val_col).alias("_ts"), POS)
        .join(values.select(*keys, POS, F.col(val_col).alias("_sval")), on=keys + [POS])
        .withColumn(
            "_dup",
            F.row_number().over(Window.partitionBy(*keys, "_ts").orderBy(POS)),
        )
        .drop(POS)
    )
    l = ts1.select(*keys, F.col(val_col).alias("_ts"), POS).withColumn(
        "_dup",
        F.row_number().over(Window.partitionBy(*keys, "_ts").orderBy(POS)),
    ).drop(POS)
    merged = l.join(r, on=keys + ["_ts", "_dup"], how="full_outer")
    out = merged.select(
        *keys,
        F.col("_ts").alias("_order_ts"),
        # tie order at equal ts: right-emitting rows before filler rows
        # (reference right-before-left), then occurrence order
        F.when(F.col("_sval").isNotNull(), F.lit(0)).otherwise(F.lit(1)).alias("_tie"),
        F.col("_dup"),
        F.coalesce(F.col("_sval"), F.lit(filler)).alias(val_col),
    )
    return renumber(
        out, keys or None, order_by=("_order_ts", "_tie", "_dup")
    ).drop("_order_ts", "_tie", "_dup")


def union_merge(
    a: DataFrame,
    b: DataFrame,
    val_col: str = VAL,
    partition_by: Sequence[str] | None = None,
) -> DataFrame:
    """cs_union: order-preserving multiset merge of two sorted
    sequences — distributed union + renumber by value (the global path
    renumbers through zip_with_global_pos: one window when the union
    is small, else literal range buckets + a literal offset array,
    never a single-partition window over a large frame)."""
    keys = [*partition_by] if partition_by else []
    u = a.select(*keys, val_col).unionByName(b.select(*keys, val_col))
    return renumber(u, keys or None, order_by=(val_col,))


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    how: str = "inner",
    salt: int = 16,
) -> DataFrame:
    """Equi-join resilient to left-side key skew: each left row gets a
    salt in [0, salt); the right side is replicated once per salt
    value; the join key becomes (keys..., salt). A hot key's rows then
    spread over `salt` shuffle partitions instead of forming one
    straggler task. Use when the skewed side is too large to broadcast
    and AQE's skew-join split isn't applicable (e.g. the downstream
    needs a specific partitioning, or the join is shuffled-hash).
    Replication costs salt x |right| - keep right the smaller side.

    Allowed `how`: inner / left / left_semi / left_anti. Left-row
    semantics survive salting (each left row joins exactly the one
    salt replica set that is complete for its key); right/full outer
    would duplicate unmatched right rows, so they are rejected."""
    if how not in ("inner", "left", "left_outer", "left_semi", "left_anti"):
        raise ValueError(f"salted_join: unsupported how={how!r}")
    keys = list(on)
    l = left.withColumn(
        "_salt",
        F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(salt)).cast("int"),
    )
    r = right.withColumn(
        "_salt", F.explode(F.array(*[F.lit(s) for s in range(salt)]))
    )
    return l.join(r, keys + ["_salt"], how).drop("_salt")


def range_join(
    left: DataFrame,
    right: DataFrame,
    point_col: str,
    lo_col: str,
    hi_col: str,
    bin_width: float,
    how: str = "inner",
) -> DataFrame:
    """Interval join (point in [lo, hi]) as an equi-join on a time/value
    bin plus a residual filter - the scale path for a theta join Spark
    would otherwise execute as a nested-loop cross product.

    Both sides bucket the domain into width-`bin_width` bins: a point
    falls in exactly one bin, an interval is exploded over every bin it
    overlaps. Matching pairs meet in exactly one bin (the point's), so
    the result needs no dedup pass; the shuffle carries |left| +
    sum(interval span / bin_width) rows instead of |left| x |right|.
    Pick bin_width near the typical interval length: wider bins mean
    fewer interval replicas but more same-bin non-matches discarded by
    the residual filter. Columns must be numeric - cast timestamps to
    epoch first (F.unix_micros). Degenerate very-long intervals
    replicate over many bins; split those out and broadcast them
    separately if they dominate."""
    if how not in ("inner", "left_semi"):
        raise ValueError(f"range_join: unsupported how={how!r}")
    l = left.withColumn("_lbin", F.floor(F.col(point_col) / F.lit(bin_width)))
    r = right.withColumn(
        "_rbin",
        F.explode(
            F.sequence(
                F.floor(F.col(lo_col) / F.lit(bin_width)),
                F.floor(F.col(hi_col) / F.lit(bin_width)),
            )
        ),
    )
    # the equality on bins rides in the join condition so Catalyst
    # extracts it as the shuffle key (hash/sort-merge, not nested
    # loop); the range predicates are the residual filter. This form
    # also keeps left_semi correct - a post-join filter could not.
    cond = (
        (l["_lbin"] == r["_rbin"])
        & (l[point_col] >= r[lo_col])
        & (l[point_col] <= r[hi_col])
    )
    out = l.join(r, cond, how)
    return out.drop("_lbin", "_rbin")
