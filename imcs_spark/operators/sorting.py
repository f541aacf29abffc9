"""Sort / rank / quantile / top-N — SURVEY §2.6.

Reference: IMCS_SORT_DEF func.c:3217-3645 materializes the sequence and
runs a permutation introsort; top-N is a bounded heap with parallel
merge (func.c:2981-3216).

Spark-first execution:
- per-series (partition_by set): window functions — parallel across
  series, the common shape at scale.
- global series: a single-partition Window.orderBy would serialize the
  whole dataset through one task, so the global paths use
  `zip_with_global_pos` (literal range buckets, a bucket-local
  row_number and a literal offset array — fully distributed) and
  derive rank/quantile from the sorted index; global top-N uses
  orderBy().limit(n), which Catalyst plans as TakeOrderedAndProject —
  the same bounded-heap-with-parallel-merge the reference hand-rolled
  (func.c:2981-3087).

Reference quirks preserved:
- cs_rank/cs_dense_rank assign ranks by ascending value but emit them
  in *original element order* (func.c:3494-3561); ties share the
  minimum rank.
- cs_quantile(q) returns q+1 boundary values arr[count·i/q] for
  i=0..q-1 plus arr[count-1] (func.c:3579-3581) — an index formula,
  not interpolation.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..series import POS, VAL, zip_with_global_pos


def _sorted_index(
    df: DataFrame,
    val_col: str,
    partition_by: Sequence[str] | None,
    desc: bool = False,
    idx_col: str = "_sidx",
) -> DataFrame:
    """Attach the 0-based sorted index (stable: ties by original pos).
    Window per series when partitioned; distributed two-pass zip for
    the global case."""
    keys = [*partition_by] if partition_by else []
    if keys:
        order = [F.col(val_col).desc() if desc else F.col(val_col).asc(), F.col(POS).asc()]
        w = Window.partitionBy(*keys).orderBy(*order)
        return df.withColumn(idx_col, F.row_number().over(w) - F.lit(1).cast("long"))
    if desc:
        # stable descending: sort ascending on negated rank key is not
        # generally possible for arbitrary types; sort by (val desc) via
        # ascending zip on the inverse is type-specific, so fall back to
        # count-1-asc_idx with ties re-stabilized by pos. The counting
        # variant returns the total from the zip's own offset pass —
        # a separate count() job would re-scan the series.
        from ..series import zip_with_global_pos_and_total

        asc, total = zip_with_global_pos_and_total(
            df, [val_col, POS], pos_col="_aidx"
        )
        # descending stable index: elements in (val desc, pos asc) order.
        # For equal values the ascending index already orders by pos, so
        # the block of equal values keeps relative order after reversal
        # only if we flip within-block offsets. Two-phase, not a
        # per-value window: a Window.partitionBy(val) would concentrate
        # a heavily-repeated value's whole block in ONE task (skew a
        # low-cardinality column hits at 100x scale); groupBy is a
        # partial-aggregated shuffle and the join back is AQE-skew-
        # splittable (and broadcast when the distinct set is small).
        # eqNullSafe join: a plain equi-join on val would silently drop
        # NULL-valued rows (NULL never equals the groupBy's NULL group)
        blocks = asc.groupBy(val_col).agg(
            F.min("_aidx").alias("_bmin"), F.max("_aidx").alias("_bmax")
        ).withColumnRenamed(val_col, "_bval")
        return (
            asc.join(blocks, F.col(val_col).eqNullSafe(F.col("_bval")))
            .withColumn(
                idx_col, F.lit(total - 1) - F.col("_bmax") - F.col("_bmin") + F.col("_aidx")
            )
            .drop("_aidx", "_bmin", "_bmax", "_bval")
        )
    return zip_with_global_pos(df, [val_col, POS], pos_col=idx_col)


def sort(
    df: DataFrame,
    order: str = "asc",
    val_col: str = VAL,
    partition_by: Sequence[str] | None = None,
) -> DataFrame:
    """cs_sort: values in sorted order, pos = sorted index."""
    keys = [*partition_by] if partition_by else []
    s = _sorted_index(df, val_col, partition_by, desc=(order == "desc"))
    return s.select(*keys, F.col("_sidx").alias(POS), F.col(val_col))


def sort_pos(
    df: DataFrame,
    order: str = "asc",
    val_col: str = VAL,
    partition_by: Sequence[str] | None = None,
) -> DataFrame:
    """cs_sort_pos: the sort permutation — original positions in sorted
    order (val = original pos)."""
    keys = [*partition_by] if partition_by else []
    s = _sorted_index(df, val_col, partition_by, desc=(order == "desc"))
    return s.select(*keys, F.col("_sidx").alias(POS), F.col(POS).alias(VAL))


def rank(
    df: DataFrame,
    val_col: str = VAL,
    partition_by: Sequence[str] | None = None,
    out_col: str = "rank",
) -> DataFrame:
    """cs_rank: ties share the minimum rank; output keeps the input's
    pos spine (original order)."""
    keys = [*partition_by] if partition_by else []
    if keys:
        w = Window.partitionBy(*keys).orderBy(F.col(val_col).asc())
        return df.withColumn(out_col, F.rank().over(w).cast("long"))
    # Two-phase min-rank instead of Window.partitionBy(val): the block
    # minimum per value comes from a partial-aggregated groupBy shuffle
    # and joins back (AQE-skew-splittable; broadcast when the distinct
    # set is small) — a constant or low-cardinality series can no
    # longer serialize one value's whole block through a single task.
    s = _sorted_index(df, val_col, None)
    # eqNullSafe: keep NULL-valued rows (plain equi-join would drop them)
    mins = s.groupBy(val_col).agg(F.min("_sidx").alias("_blkmin")).withColumnRenamed(
        val_col, "_mval"
    )
    return (
        s.join(mins, F.col(val_col).eqNullSafe(F.col("_mval")))
        .withColumn(out_col, (F.col("_blkmin") + 1).cast("long"))
        .drop("_sidx", "_blkmin", "_mval")
    )


def dense_rank(
    df: DataFrame,
    val_col: str = VAL,
    partition_by: Sequence[str] | None = None,
    out_col: str = "dense_rank",
) -> DataFrame:
    """cs_dense_rank: consecutive ranks, ties share; original order."""
    keys = [*partition_by] if partition_by else []
    if keys:
        w = Window.partitionBy(*keys).orderBy(F.col(val_col).asc())
        return df.withColumn(out_col, F.dense_rank().over(w).cast("long"))
    distinct_ranked = zip_with_global_pos(
        df.select(val_col).distinct(), [val_col], pos_col="_dr"
    ).withColumnRenamed(val_col, "_dval")
    # eqNullSafe: distinct() keeps a NULL group, a plain equi-join
    # would never match it back
    return df.join(
        distinct_ranked, F.col(val_col).eqNullSafe(F.col("_dval"))
    ).withColumn(out_col, (F.col("_dr") + 1).cast("long")).drop("_dr", "_dval")


def quantile(
    df: DataFrame,
    q: int,
    val_col: str = VAL,
    partition_by: Sequence[str] | None = None,
) -> DataFrame:
    """cs_quantile: q+1 boundary values by the reference's index
    formula (func.c:3579-3581): arr[trunc(count·i/q)] for i<q, then
    arr[count-1]. Selection over the sorted index — only the q+1
    matching rows survive the filter."""
    keys = [*partition_by] if partition_by else []
    if keys:
        s = _sorted_index(df, val_col, partition_by)
        cw = Window.partitionBy(*keys)
        s = s.withColumn("_cnt", F.count(F.lit(1)).over(cw))
    else:
        from ..series import zip_with_global_pos_and_total

        s, total = zip_with_global_pos_and_total(
            df, [val_col, POS], pos_col="_sidx"
        )
        s = s.withColumn("_cnt", F.lit(total))
    slots = F.filter(
        F.transform(
            F.sequence(F.lit(0), F.lit(q)),
            lambda i: F.when(
                (
                    F.when(i < q, (F.col("_cnt") * i / q).cast("long")).otherwise(
                        F.col("_cnt") - 1
                    )
                )
                == F.col("_sidx"),
                i,
            ),
        ),
        lambda x: x.isNotNull(),
    )
    return (
        s.withColumn("_slots", slots)
        .filter(F.size("_slots") > 0)
        .select(*keys, F.explode("_slots").alias(POS), F.col(val_col))
        .withColumn(POS, F.col(POS).cast("long"))
    )


def top_max(
    df: DataFrame, n: int, val_col: str = VAL, partition_by: Sequence[str] | None = None
) -> DataFrame:
    """cs_top_max: n largest values, descending order, pos=0..n-1."""
    return _top(df, n, val_col, partition_by, desc=True, emit_pos=False)


def top_min(
    df: DataFrame, n: int, val_col: str = VAL, partition_by: Sequence[str] | None = None
) -> DataFrame:
    return _top(df, n, val_col, partition_by, desc=False, emit_pos=False)


def top_max_pos(
    df: DataFrame, n: int, val_col: str = VAL, partition_by: Sequence[str] | None = None
) -> DataFrame:
    """cs_top_max_pos: original positions of the n largest values
    (ties → earliest position first, matching the reference heap)."""
    return _top(df, n, val_col, partition_by, desc=True, emit_pos=True)


def top_min_pos(
    df: DataFrame, n: int, val_col: str = VAL, partition_by: Sequence[str] | None = None
) -> DataFrame:
    return _top(df, n, val_col, partition_by, desc=False, emit_pos=True)


def _top(
    df: DataFrame,
    n: int,
    val_col: str,
    partition_by: Sequence[str] | None,
    desc: bool,
    emit_pos: bool,
) -> DataFrame:
    keys = [*partition_by] if partition_by else []
    order = [F.col(val_col).desc() if desc else F.col(val_col).asc(), F.col(POS).asc()]
    if keys:
        w = Window.partitionBy(*keys).orderBy(*order)
        ranked = df.withColumn("_rn", F.row_number().over(w) - F.lit(1).cast("long"))
        out = ranked.filter(F.col("_rn") < n)
    else:
        # TakeOrderedAndProject: bounded heap per partition + merge of
        # n·P candidates — never a full sort.
        out = df.orderBy(*order).limit(n)
        w = Window.orderBy(*order)
        out = out.withColumn("_rn", F.row_number().over(w) - F.lit(1).cast("long"))
    value = F.col(POS).cast("long").alias(VAL) if emit_pos else F.col(val_col)
    sel = out.select(*keys, F.col("_rn").alias(POS), value)
    return sel


def quantile_approx(
    df: DataFrame,
    q: int,
    val_col: str = VAL,
    partition_by: Sequence[str] | None = None,
    accuracy: int = 10000,
) -> DataFrame:
    """Approximate quantile boundaries - the scale path for
    cs_quantile. quantile() selects exact order statistics through a
    global range shuffle; at very large counts a single aggregate pass
    over a mergeable sketch is the right trade: percentile_approx
    (Greenwald-Khanna) guarantees rank error <= count/accuracy with
    O(accuracy) state per group and NO global sort or zip - partial
    sketches merge map-side like any other aggregate. Emits the same
    (pos 0..q, val) shape as quantile()."""
    keys = [*partition_by] if partition_by else []
    ps = [i / q for i in range(q)] + [1.0]
    agg_expr = F.percentile_approx(
        val_col, F.array(*[F.lit(p) for p in ps]), F.lit(accuracy)
    ).alias("_qs")
    agg = df.groupBy(*keys).agg(agg_expr) if keys else df.agg(agg_expr)
    return agg.select(
        *keys, F.posexplode("_qs").alias(POS, val_col)
    ).withColumn(POS, F.col(POS).cast("long"))
