"""The positional spine: ordered series as DataFrames.

The reference models every column as an ordered sequence where *element
position* is a first-class concept (imcs_iterator_t first_pos/next_pos/
last_pos, reference imcs.h:324-344; counted B-Tree giving O(log n)
access by position, btree.h:20-38). In Spark we materialize position as
an explicit ``pos`` column:

- per-series (an id column partitions the table into many series):
  ``row_number() over (partition by id order by ts) - 1`` — fully
  parallel, no global shuffle bottleneck; this is the common case at
  100 TB (millions of independent series).
- global (one giant series): a two-pass bucket-offset scheme —
  deterministic range buckets (literal bounds probed once, see
  :func:`range_bucket_expr`), count rows per bucket (tiny agg over
  pruned key columns), fold the cumulative offsets into a literal
  array, and add the bucket's offset to a bucket-local row_number.
  All JVM-side; no single-partition window and NOTHING persisted, so
  it scales to arbitrarily long series. A small frame (see
  :func:`is_small_plan`) takes one window over one partition instead.

Convention used by every operator in this package: a *series frame* is a
DataFrame carrying ``pos`` (long, 0-based, dense per series) plus value
columns, optionally an id column. Operators return frames logically
ordered by (id, pos) and never rely on physical row order.
"""

from __future__ import annotations

from typing import Iterable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

POS = "pos"
VAL = "val"

# range_bucket_expr caps its literal cut-point list so plan size stays
# bounded when the probe runs at many-thousand shuffle partitions
_MAX_BUCKET_BOUNDS = 4096

# Session-scoped memo for range_bucket_expr probe results, keyed by
# (semantic hash of the pruned key projection, num_partitions). A
# composite query that calls several global operators over the SAME
# frame (series_ops, table_ops, load_quotes) previously paid one probe
# job per operator; with the memo it probes once. Staleness is
# correctness-safe: the bucket id stays a pure function of the key and
# consumers always recompute per-bucket counts/offsets fresh, so a
# cached-but-outdated cut list can only unbalance buckets, never
# misplace a row. Bounded FIFO so a long session can't grow it
# unboundedly.
_BOUNDS_CACHE: dict = {}
_BOUNDS_CACHE_MAX = 256


def clear_bounds_cache() -> None:
    """Drop all memoized range-bucket probe results (tests; or after a
    bulk rewrite of source files when re-balancing is desired)."""
    _BOUNDS_CACHE.clear()


# Below this Catalyst size estimate a global series comfortably fits
# one task: the global operators then skip the bounds probe and run a
# plain single-partition window — zero extra jobs, which beats paying
# two job floors (probe + counts) on inputs where parallelism buys
# nothing. Estimates err LARGE (unknown stats report huge), so a
# mis-estimate can only push work onto the scalable path.
_SMALL_INPUT_BYTES = 64 << 20

# For FILE sources Catalyst's sizeInBytes is the ON-DISK (compressed)
# size, and parquet routinely compresses 3-10x — a "60 MB" frame can
# decompress to GBs, which would wedge the single-task fast path. We
# therefore derate the gate by a conservative decompression multiplier
# (so the effective on-disk threshold is _SMALL_INPUT_BYTES / 8 = 8 MB)
# on top of whatever spark.sql.sources.fileCompressionFactor the user
# configured. Literal/Range plans (the common small case: seq(),
# const_series, bounded slices) report uncompressed in-memory sizes and
# sit in the KB range, so the derating never kicks them off the fast
# path.
_DECOMPRESSION_SAFETY = 8.0


def plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate for the frame — no job, one py4j call.
    Unknown statistics return a huge default, so callers gating a
    small-input fast path on this can only fail toward the scalable
    plan."""
    try:
        # ANALYZED plan stats, not optimizedPlan(): analysis already ran
        # when the DataFrame was built, while forcing the optimizer here
        # would run a second full Catalyst pass per probe (measured
        # ~15% on literal-heavy composite queries). Analyzed-plan
        # estimates skip pushdown effects so they only err LARGER —
        # the safe direction for a small-input gate. py4j maps the
        # BigInt to a Python int in long range; str() covers any boxed
        # JVM object form.
        return int(str(df._jdf.queryExecution().analyzed().stats().sizeInBytes()))
    except Exception:
        return 1 << 62


def is_small_plan(df: DataFrame) -> bool:
    """True when the frame is safely single-task-window sized. The
    Catalyst estimate is derated by _DECOMPRESSION_SAFETY (times any
    configured fileCompressionFactor) because file-source sizeInBytes
    is compressed on-disk bytes — see the constant's comment."""
    try:
        conf_factor = float(
            df.sparkSession.conf.get("spark.sql.sources.fileCompressionFactor", "1.0")
        )
    except Exception:
        conf_factor = 1.0
    factor = max(_DECOMPRESSION_SAFETY, conf_factor)
    return plan_size_bytes(df) * factor <= _SMALL_INPUT_BYTES


def with_pos(
    df: DataFrame,
    order_by: Sequence[str | Column],
    partition_by: Sequence[str] | None = None,
    pos_col: str = POS,
) -> DataFrame:
    """Materialize a dense 0-based position per series.

    Equivalent of the reference's implicit element numbering
    (btree.c:146-254 positional access). With ``partition_by`` this is a
    per-series window — embarrassingly parallel. Without it, prefer
    :func:`zip_with_global_pos` for long series; this fallback uses a
    single-partition window (fine for bounded slices, e.g. after a
    time-range ``get``).
    """
    if partition_by:
        w = Window.partitionBy(*partition_by).orderBy(*order_by)
    else:
        w = Window.orderBy(*order_by)
    return df.withColumn(pos_col, F.row_number().over(w) - F.lit(1).cast("long"))


def range_bucket_expr(
    df: DataFrame,
    order_by: Sequence[str],
    num_partitions: int | None = None,
):
    """Deterministic range-bucket id as a PURE FUNCTION of the row's
    order key. Probes the key distribution ONCE (range-partition a
    projection of the key columns, collect each partition's minimum
    key — one small eager job over pruned columns), then assigns each
    row the count of literal bounds ≤ its key via a balanced
    CASE-WHEN tree (log P comparisons evaluated per row; expression
    size O(P)).

    This replaces the repartitionByRange + spark_partition_id + persist
    idiom everywhere a global operator needs TWO jobs to agree on
    partition boundaries: RangePartitioner re-samples per action, so
    consumers previously had to persist() the partitioned frame to
    freeze one materialization — corpus-scale cache churn, and a
    storage leak when nobody unpersisted (a 100 TB frame cannot be
    cached at all). With literal bounds the bucket id is identical in
    every job over the lineage, so nothing is pinned in the storage
    layer and any number of passes stay consistent.

    Ordering safety: Spark's struct comparison is a TOTAL order with
    null fields placed first — exactly orderBy's null placement — so
    bucket ranges respect the sort order even with null keys, and
    rows with equal keys always share a bucket. Returns
    (pid_column (int), n_buckets).

    PRECONDITION (shared with every consumer of the bucket id): the
    frame's lineage must be DETERMINISTIC across re-execution — the
    probe job and the caller's job(s) each re-run the lineage, so a
    nondeterministic source (F.rand / un-seeded sample / non-idempotent
    read) can yield keys the probed cut list never saw. All in-repo
    callers feed deterministic reads or pure hash columns. The memo
    below is additionally stale-tolerant: cached cut points only steer
    which bucket a key lands in, and counts/offsets are recomputed per
    call, so even outdated bounds keep positions exact.

    Tie skew: duplicate cut points are COLLAPSED (equal keys must share
    a bucket for exactness), so a heavily-tied key — e.g. 99% of rows
    carrying one value — degenerates toward a single giant bucket
    handled by one task. That is unavoidable for exact global-order
    semantics; callers whose key is supposed to be near-unique (hash
    spines) are unaffected, and callers with naturally tied keys should
    extend ``order_by`` with a deterministic tiebreaker column when
    per-row order within ties is free (zip_with_global_pos does not,
    because its window ordering must match the caller's key exactly).
    """
    kcols = [f"_k{i}" for i in range(len(order_by))]
    proj = df.select(*[F.col(c).alias(k) for c, k in zip(order_by, kcols)])
    dtypes = [proj.schema[k].dataType for k in kcols]
    try:
        memo_key = (
            int(str(proj._jdf.queryExecution().analyzed().semanticHash())),
            num_partitions,
        )
    except Exception:
        memo_key = None
    if memo_key is not None and memo_key in _BOUNDS_CACHE:
        bounds = _BOUNDS_CACHE[memo_key]
    else:
        probe = (
            proj.repartitionByRange(num_partitions, *kcols)
            if num_partitions
            else proj.repartitionByRange(*kcols)
        )
        rows = (
            probe.withColumn("_p", F.spark_partition_id())
            .groupBy("_p")
            .agg(F.min(F.struct(*kcols)).alias("_k"))
            .orderBy("_p")
            .collect()
        )
        bounds = []
        for r in rows[1:]:  # the first partition's min is not a cut point
            t = tuple(r["_k"])
            if not bounds or t != bounds[-1]:  # skew: drop duplicate cuts
                bounds.append(t)
        if len(bounds) > _MAX_BUCKET_BOUNDS:
            # keep plan size bounded at extreme shuffle-partition counts:
            # every k-th cut doubles-ish bucket width, never correctness
            step = -(-len(bounds) // _MAX_BUCKET_BOUNDS)
            bounds = bounds[step - 1 :: step]
        if memo_key is not None:
            if len(_BOUNDS_CACHE) >= _BOUNDS_CACHE_MAX:
                _BOUNDS_CACHE.pop(next(iter(_BOUNDS_CACHE)))
            _BOUNDS_CACHE[memo_key] = bounds
    key = F.struct(*[F.col(c).alias(k) for c, k in zip(order_by, kcols)])

    def blit(t):
        return F.struct(
            *[F.lit(v).cast(dt).alias(k) for v, dt, k in zip(t, dtypes, kcols)]
        )

    def tree(lo: int, hi: int):
        # bucket index for key given sorted cut points bounds[lo:hi]
        if lo == hi:
            return F.lit(lo)
        mid = (lo + hi) // 2
        return F.when(key >= blit(bounds[mid]), tree(mid + 1, hi)).otherwise(
            tree(lo, mid)
        )

    return tree(0, len(bounds)), len(bounds) + 1


def zip_with_global_pos(
    df: DataFrame,
    order_by: Sequence[str],
    pos_col: str = POS,
    num_partitions: int | None = None,
) -> DataFrame:
    """Scalable global position: literal range buckets + offsets.

    Two eager jobs before the caller's, zero single-partition stages
    over the data:
      1. probe the order key's range bounds (memoized per frame, see
         :func:`range_bucket_expr`);
      2. count rows per bucket (a tiny aggregate over the key columns).
    The position is then a literal offset array indexed by bucket plus
    the bucket-local ``row_number``. Small frames skip both jobs and
    run one window (see :func:`zip_with_global_pos_and_total`).
    """
    out, _total = zip_with_global_pos_and_total(
        df, order_by, pos_col, num_partitions, need_total=False
    )
    return out


def zip_with_global_pos_and_total(
    df: DataFrame,
    order_by: Sequence[str],
    pos_col: str = POS,
    num_partitions: int | None = None,
    need_total: bool = True,
) -> tuple[DataFrame, int]:
    """zip_with_global_pos that also returns the total row count (known
    for free from the partition-count pass — saves callers a separate
    count job).

    Built on :func:`range_bucket_expr`: the bucket id is a pure
    function of the row's key (literal range bounds probed once), so
    the counting job and the caller's job agree on bucketing WITHOUT
    persisting anything — the prior design froze a repartitionByRange
    via persist() (RangePartitioner re-samples per action), which
    leaked a corpus-scale cache entry per spine until session end and
    could not work at a scale where the frame exceeds the storage
    pool. The counting job touches only the key columns (Catalyst
    prunes the scan); the position is offset[bucket] + row_number
    within the bucket, with the offsets folded into a literal array
    (at most _MAX_BUCKET_BOUNDS + 1 entries — the same size as the
    bucket CASE tree the plan already carries).

    PRECONDITION: the input lineage must be deterministic and the
    order key a total order per the caller's semantics — the counting
    job and the caller's job re-execute the lineage independently (the
    old persist() froze one materialization; the literal-bounds design
    instead relies on re-execution reproducing the same rows). A
    nondeterministic upstream (F.rand, un-seeded sample, reads of
    files being concurrently rewritten) can make offsets and
    row_number disagree across actions. See range_bucket_expr.

    Small inputs (Catalyst size estimate under _SMALL_INPUT_BYTES,
    derated for file-source compression — see is_small_plan) skip the
    probe and run one single-partition window — no extra jobs at all;
    with ``need_total=False`` (the zip_with_global_pos wrapper) not
    even a count job runs."""
    if is_small_plan(df):
        w = Window.orderBy(*order_by)
        out = df.withColumn(pos_col, (F.row_number().over(w) - 1).cast("long"))
        return out, (df.count() if need_total else -1)
    pid_expr, _n = range_bucket_expr(df, list(order_by), num_partitions)
    mid = df.withColumn("_pid", pid_expr)
    counts = (
        mid.groupBy("_pid").agg(F.count(F.lit(1)).alias("_cnt")).orderBy("_pid").collect()
    )
    offsets = {}
    running = 0
    for row in counts:
        offsets[row["_pid"]] = running
        running += row["_cnt"]
    w = Window.partitionBy("_pid").orderBy(*order_by)
    local = (F.row_number().over(w) - 1).cast("long")
    # the offsets are driver-known after the counting pass, so they
    # ride in the plan as a literal array (range_bucket_expr caps the
    # bucket count): no broadcast build or exchange, no extra job
    arr = F.array(
        *[F.lit(int(offsets.get(p, 0))) for p in range(max(offsets, default=0) + 1)]
    )
    out = mid.withColumn(
        pos_col, local + F.element_at(arr, F.col("_pid") + 1)
    ).drop("_pid")
    return out, running


def seq(
    spark: SparkSession,
    values: Iterable,
    elem_type: str = "double",
    val_col: str = VAL,
) -> DataFrame:
    """Literal series — the analog of cs_parse('int4:{1,2,3}')
    (reference imcs.c:2433-2478, func.c:413-593). Returns (pos, val).

    Built as posexplode of an array LITERAL over range(1), not
    createDataFrame: createDataFrame yields a LogicalRDD whose
    statistics are unknown (treated as EiB-huge), so every tiny join
    over it plans as a 32-partition sort-merge join and every scan is
    an RDD job. A literal plan carries exact tiny stats — Catalyst
    broadcasts the joins and the scan is a 1-row Range."""
    vals = list(values)
    # the outer cast matters for the EMPTY list: F.array() with no
    # elements is array<void>, which breaks unions/joins downstream —
    # an empty series must still carry its element type
    arr = F.array(*[F.lit(v).cast(elem_type) for v in vals]).cast(
        f"array<{elem_type}>"
    )
    return spark.range(1).select(F.posexplode(arr).alias("_p", val_col)).select(
        F.col("_p").cast("long").alias(POS), val_col
    )


def const_series(spark: SparkSession, value, n: int, elem_type: str = "double") -> DataFrame:
    """cs_const analog (reference imcs.c:2479-2573): constant series.

    The reference's version is an *infinite* iterator broadcast against
    the driving sequence; in DataFrame algebra a constant is just
    ``F.lit`` — this explicit form exists for API parity and tests.
    """
    return spark.range(n).select(
        F.col("id").alias(POS), F.lit(value).cast(elem_type).alias(VAL)
    )


def run_id(
    df: DataFrame,
    group_col: str | Column,
    order_by: Sequence[str] = (POS,),
    partition_by: Sequence[str] | None = None,
    out_col: str = "run_id",
) -> DataFrame:
    """Identify *consecutive runs* of equal values — the group notion of
    cs_group_* / cs_win_group_* aggregates (reference func.c:1898-1984;
    user guide "group aggregates": groups are runs, not global keys).

    run_id = cumulative count of value-changes along the series. One
    window chain per series partition; with ``partition_by`` set this is
    fully parallel across series.
    """
    g = F.col(group_col) if isinstance(group_col, str) else group_col
    if partition_by:
        w = Window.partitionBy(*partition_by).orderBy(*order_by)
    else:
        w = Window.orderBy(*order_by)
    # first-row detection must be independent of the group value:
    # lag(g) is NULL both for "no previous row" and "previous value is
    # NULL", and eqNullSafe(NULL, NULL) is true — a series STARTING with
    # NULL group values would count no change and emit run_id = -1.
    first_row = F.lag(F.lit(1)).over(w).isNull()
    change = F.when(
        first_row | ~g.eqNullSafe(F.lag(g).over(w)), F.lit(1)
    ).otherwise(F.lit(0))
    return df.withColumn(out_col, F.sum(change).over(w) - F.lit(1))


def sessionize(
    df: DataFrame,
    ts_col: str,
    gap,
    partition_by: Sequence[str] | None = None,
    out_col: str = "session_id",
) -> DataFrame:
    """Assign session ids: a new session starts when the gap to the
    previous event exceeds `gap` (same units as ts_col differences, or
    a Column expression). The time-based sibling of run_id — one window
    chain, parallel across series."""
    if partition_by:
        w = Window.partitionBy(*partition_by).orderBy(ts_col)
    else:
        w = Window.orderBy(ts_col)
    # Type-aware gap arithmetic: TIMESTAMP / TIMESTAMP_NTZ forbid numeric
    # casts (Spark 4). TIMESTAMP normalizes via unix_micros; NTZ uses
    # LINEAR wall-clock seconds (interval since the NTZ epoch) — a cast
    # through TIMESTAMP would map wall time to instants via the session
    # timezone, distorting gap differences across DST transitions (a
    # 75-minute wall gap reads as 15 minutes over spring-forward).
    # Numeric ts columns pass through as double, so `gap` keeps its
    # "same units as ts differences" contract: seconds for timestamps,
    # raw units otherwise.
    dt = df.schema[ts_col].dataType
    tsn = F.col(ts_col)
    if isinstance(dt, T.TimestampNTZType):
        tsn = (
            (tsn - F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"))
            .cast("decimal(30,6)")
            .cast("double")
        )
    elif isinstance(dt, T.TimestampType):
        tsn = F.unix_micros(tsn) / F.lit(1000000.0)
    else:
        tsn = tsn.cast("double")
    prev = F.lag(tsn).over(w)
    gap_expr = gap if isinstance(gap, Column) else F.lit(gap)
    new_session = F.when(
        prev.isNull() | (tsn - prev > gap_expr),
        F.lit(1),
    ).otherwise(F.lit(0))
    return df.withColumn(out_col, F.sum(new_session).over(w) - F.lit(1))


def count_series(df: DataFrame, partition_by: Sequence[str] | None = None) -> DataFrame | int:
    """Element count per series (TABLE_count, reference btree.c:349-383)."""
    if partition_by:
        return df.groupBy(*partition_by).agg(F.count(F.lit(1)).alias("count"))
    return df.count()


def resolve_pos(df: DataFrame, pos, out_col: str = "_resolved_pos") -> DataFrame:
    """Resolve a possibly-negative position against the series length,
    mirroring the reference's negative-index convention in cs_limit /
    TABLE_span (imcs.c:3154-3175: negatives count from the end).

    Returns ``df`` with ``out_col`` holding the non-negative position.
    The length rides in as a broadcast one-row aggregate inside the
    plan — fully lazy, no driver-side count — so this composes into
    larger plans without serializing the driver (same pattern as
    TsTable.span).
    """
    if pos >= 0:
        return df.withColumn(out_col, F.lit(pos).cast("long"))
    cnt = df.agg((F.count(F.lit(1)) + pos).cast("long").alias(out_col))
    return df.crossJoin(F.broadcast(cnt))
