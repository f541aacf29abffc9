"""Golden-vector tests ported from the reference's pg_regress suite
(FIXTURES.md §3; reference sql/spec.sql, sql/sort.sql, sql/transform.sql
and user-guide examples). Each case feeds a literal sequence and asserts
the exact expected output vector."""

import pytest
from pyspark.sql import functions as F

from imcs_spark import seq
from imcs_spark.operators import grouping, joins, positional, sorting, timeseries, windows

from conftest import assert_seq


def test_filter(spark):
    cond = seq(spark, [1, 0, 1], "int")
    vals = seq(spark, [1.0, 2.0, 3.0])
    joined = vals.join(cond.withColumnRenamed("val", "c"), "pos")
    out = positional.filter_(joined, F.col("c") != 0).drop("c")
    assert_seq(out, [1.0, 3.0])


def test_filter_pos(spark):
    cond = seq(spark, [1, 0, 1], "int")
    assert_seq(positional.filter_pos(cond, F.col("val") != 0), [0, 2])


def test_filter_first_pos(spark):
    cond = seq(spark, [1, 0, 1, 1, 0, 1], "int")
    assert_seq(positional.filter_first_pos(cond, F.col("val") != 0, 2), [0, 2])


def test_thin(spark):
    s = seq(spark, [10, 20, 30, 40, 50, 60], "int")
    assert_seq(positional.thin(s, 1, 2), [20, 40, 60])


def test_unique_adjacent(spark):
    s = seq(spark, [1, 1, 2, 2, 2, 1, 3], "int")
    assert_seq(positional.unique(s), [1, 2, 1, 3])


def test_reverse(spark):
    s = seq(spark, [1, 2, 3], "int")
    assert_seq(positional.reverse(s), [3, 2, 1])


def test_repeat(spark):
    s = seq(spark, [1, 2], "int")
    assert_seq(positional.repeat(s, 3), [1, 1, 1, 2, 2, 2])


def test_limit_negatives(spark):
    s = seq(spark, [10, 20, 30, 40, 50], "int")
    assert_seq(positional.limit(s, 1, 3), [20, 30, 40])
    assert_seq(positional.limit(s, -2), [40, 50])
    assert_seq(positional.head(s, 2), [10, 20])
    assert_seq(positional.tail(s, 2), [40, 50])
    assert_seq(positional.cut_head(s, 2), [30, 40, 50])
    assert_seq(positional.cut_tail(s, 2), [10, 20, 30])


def test_concat(spark):
    a = seq(spark, [1, 2], "int")
    b = seq(spark, [3, 4], "int")
    assert_seq(positional.concat(a, b), [1, 2, 3, 4])


def test_union_sorted(spark):
    a = seq(spark, [1, 5, 7, 8], "int")
    b = seq(spark, [2, 3, 5, 6], "int")
    assert_seq(positional.union_sorted(a, b), [1, 2, 3, 5, 5, 6, 7, 8])


def test_map_positions(spark):
    s = seq(spark, [10.0, 20.0, 30.0, 40.0])
    pos = seq(spark, [3, 0], "long")
    out = positional.map_positions(s, pos)
    assert_seq(out, [40.0, 10.0])


# --- sorting ----------------------------------------------------------------
def test_sort_and_pos(spark):
    s = seq(spark, [1.1, 0.1, 2.2, 0.2, 0.1])
    assert_seq(sorting.sort(s), [0.1, 0.1, 0.2, 1.1, 2.2])
    assert_seq(sorting.sort(s, "desc"), [2.2, 1.1, 0.2, 0.1, 0.1])
    assert_seq(sorting.sort_pos(s), [1, 4, 3, 0, 2])


def test_rank_original_order(spark):
    s = seq(spark, [1.1, 0.1, 2.2, 0.2, 0.1])
    out = sorting.rank(s).orderBy("pos")
    assert [r["rank"] for r in out.collect()] == [4, 1, 5, 3, 1]
    out2 = sorting.dense_rank(s).orderBy("pos")
    assert [r["dense_rank"] for r in out2.collect()] == [3, 1, 4, 2, 1]


def test_quantile(spark):
    s = seq(spark, [10, 3, 0, 3, 4, 5, 9, 11, 7, 3, 3], "int")
    assert_seq(sorting.quantile(s, 2), [0, 4, 11])


def test_top(spark):
    s = seq(spark, [1.1, 0.1, 2.2, 0.2])
    assert_seq(sorting.top_max(s, 2), [2.2, 1.1])
    assert_seq(sorting.top_min(s, 2), [0.1, 0.2])
    assert_seq(sorting.top_min_pos(s, 2), [1, 3])
    assert_seq(sorting.top_max_pos(s, 2), [2, 0])


# --- time-series specials ---------------------------------------------------
def test_diff(spark):
    s = seq(spark, [1, 3, 2, 5], "int")
    out = timeseries.diff(s).orderBy("pos")
    assert [r["diff"] for r in out.collect()] == [0, 2, -1, 3]


def test_trend(spark):
    s = seq(spark, [1, 2, 3, 3, 2, 2, 4, 5, 6, 5, 5], "int")
    out = timeseries.trend(s).orderBy("pos")
    assert [r["trend"] for r in out.collect()] == [0, 1, 1, 1, -1, -1, 1, 1, 1, -1, -1]


def test_cross(spark):
    s = seq(spark, [1, 2, -1, 0.5, 0.6, 0.0, 0.1, 0.3, -5.0])
    assert_seq(timeseries.cross(s, 0), [2, 3, 7])


def test_cross_direction(spark):
    s = seq(spark, [1, 2, -1, 0.5, 0.6, 0.0, 0.1, 0.3, -5.0])
    # first reported crossing must be into negative territory
    assert_seq(timeseries.cross(s, -1), [2, 3, 7])
    # first reported crossing into positive: skips the first (into -1)
    assert_seq(timeseries.cross(s, 1), [3, 7])


def test_extrema(spark):
    s = seq(spark, [1, 2, 3, 2, 1, 0, 0, 1, 1, 2, 4, 0], "int")
    assert_seq(timeseries.extrema(s, 0), [2, 6, 10])
    assert_seq(timeseries.extrema(s, 1), [2, 10])  # maxima only
    assert_seq(timeseries.extrema(s, -1), [6])  # minima only


def test_norm(spark):
    s = seq(spark, [3.0, 4.0])
    out = timeseries.norm(s).orderBy("pos")
    assert [round(r["norm"], 6) for r in out.collect()] == [0.6, 0.8]


# --- joins ------------------------------------------------------------------
def test_join_pos(spark):
    a = seq(spark, [0, 2, 3, 8, 10], "int")
    b = seq(spark, [1, 3, 6, 10], "int")
    assert_seq(joins.join_pos(a, b), [1, 3])


def test_asof_join_pos(spark):
    a = seq(spark, [4, 9], "int")
    b = seq(spark, [1, 3, 6, 10], "int")
    out = joins.asof_join_pos(a, b).orderBy("pos")
    assert [r["val"] for r in out.collect()] == [1, 3]


def test_asof_join_values(spark):
    a = seq(spark, [4, 9], "int")
    b = seq(spark, [1, 3, 6, 10], "int")
    v = seq(spark, [0.1, 0.3, 0.6, 1.0])
    out = joins.asof_join_values(a, b, v).orderBy("pos")
    assert [r["val"] for r in out.collect()] == [pytest.approx(0.3), pytest.approx(1.0)]


def test_stretch(spark):
    ts1 = seq(spark, [1, 2, 3, 4, 5], "int")
    ts2 = seq(spark, [2, 4], "int")
    vals = seq(spark, [1.1, 2.2])
    out = joins.stretch(ts1, ts2, vals, 1.0).orderBy("pos")
    assert [r["val"] for r in out.collect()] == [
        pytest.approx(x) for x in [1.1, 2.2, 2.2, 1.0, 1.0]
    ]


def test_stretch0(spark):
    ts1 = seq(spark, [1, 2, 3, 5], "int")
    ts2 = seq(spark, [2, 3, 4], "int")
    vals = seq(spark, [1.1, 1.2, 1.3])
    assert_seq(joins.stretch0(ts1, ts2, vals, 0.0), [0.0, 1.1, 1.2, 1.3, 0.0])


# --- windows ----------------------------------------------------------------
def test_moving_aggs(spark):
    s = seq(spark, [1.0, 2.0, 3.0, 4.0])
    out = windows.moving_agg(s, "sum", 2).orderBy("pos")
    assert [r["window_sum"] for r in out.collect()] == [1.0, 3.0, 5.0, 7.0]
    out = windows.moving_agg(s, "avg", 3).orderBy("pos")
    assert [r["window_avg"] for r in out.collect()] == [
        pytest.approx(x) for x in [1.0, 1.5, 2.0, 3.0]
    ]


def test_cum_aggs(spark):
    s = seq(spark, [1.0, 2.0, 3.0])
    out = windows.cum_agg(s, "sum").orderBy("pos")
    assert [r["cum_sum"] for r in out.collect()] == [1.0, 3.0, 6.0]
    out = windows.cum_prd(s).orderBy("pos")
    assert [r["cum_prd"] for r in out.collect()] == [
        pytest.approx(x) for x in [1.0, 2.0, 6.0]
    ]


def test_ema(spark):
    s = seq(spark, [10.0, 20.0, 30.0])
    out = windows.ema(s, 3).orderBy("pos")
    # p = 0.5: e = [10, 15, 22.5]
    assert [r["ema"] for r in out.collect()] == [
        pytest.approx(x) for x in [10.0, 15.0, 22.5]
    ]


def test_atr(spark):
    s = seq(spark, [10.0, 20.0, 30.0, 40.0])
    out = windows.atr(s, 3).orderBy("pos")
    # warm-up: r1=10; r2=(10+20)/2=15; r3=(15*2+30)/3=20; r4=(20*2+40)/3=80/3
    assert [r["atr"] for r in out.collect()] == [
        pytest.approx(x) for x in [10.0, 15.0, 20.0, 80.0 / 3]
    ]


# --- grouping ---------------------------------------------------------------
def test_group_agg_runs(spark):
    g = seq(spark, [1, 1, 2, 2, 1], "int").withColumnRenamed("val", "grp")
    v = seq(spark, [10.0, 20.0, 30.0, 40.0, 50.0])
    df = v.join(g, "pos")
    out = grouping.group_agg(df, "sum", "grp").orderBy("pos")
    rows = out.collect()
    assert [r["group_sum"] for r in rows] == [30.0, 70.0, 50.0]
    assert [r["grp"] for r in rows] == [1, 2, 1]


def test_group_first_last_run_order(spark):
    """cs_group_first/last are RUN-order first/last (func.c:1898-1984),
    anchored by pos — not shuffle-arrival order. Spread over many
    partitions to make an arrival-order implementation flaky."""
    g = seq(spark, [1, 1, 1, 2, 2, 1], "int").withColumnRenamed("val", "grp")
    v = seq(spark, [10.0, 20.0, 30.0, 40.0, 50.0, 60.0])
    df = v.join(g, "pos").repartition(8)
    out = grouping.group_aggs(
        df, {"f": ("first", "val"), "l": ("last", "val")}, "grp"
    ).orderBy("pos")
    rows = out.collect()
    assert [(r["f"], r["l"]) for r in rows] == [(10.0, 30.0), (40.0, 50.0), (60.0, 60.0)]
    wout = grouping.win_group_agg(df, "first", "grp", "val").orderBy("pos")
    assert [r["win_group_first"] for r in wout.collect()] == [10.0, 10.0, 10.0, 40.0, 40.0, 60.0]
    gout = grouping.grid_agg(
        v.repartition(8), "last", 2, "val"
    ).orderBy("pos")
    assert [r["grid_last"] for r in gout.collect()] == [20.0, 40.0, 60.0]


def test_win_group_agg(spark):
    g = seq(spark, [1, 1, 2], "int").withColumnRenamed("val", "grp")
    v = seq(spark, [10.0, 20.0, 30.0])
    df = v.join(g, "pos")
    out = grouping.win_group_agg(df, "sum", "grp").orderBy("pos")
    assert [r["win_group_sum"] for r in out.collect()] == [30.0, 30.0, 30.0]


def test_win_group_aggs_equals_chained_singles(spark):
    # the r13 multi-agg form (one run_id derivation, one shared Window
    # node) must match chaining the single-agg API call-for-call
    g = seq(spark, [1, 1, 2, 2, 1, 1, 1, 3], "int").withColumnRenamed("val", "grp")
    v = seq(spark, [10.0, 20.0, 30.0, 5.0, 1.0, 2.0, 3.0, 9.0])
    df = v.join(g, "pos")
    multi = grouping.win_group_aggs(
        df, {"s": ("sum", "val"), "m": ("max", "val"), "n": ("count", "val")}, "grp"
    ).orderBy("pos")
    chained = grouping.win_group_agg(df, "sum", "grp", "val", out_col="s")
    chained = grouping.win_group_agg(chained, "max", "grp", "val", out_col="m")
    chained = grouping.win_group_agg(chained, "count", "grp", "val", out_col="n")
    cols = ["pos", "s", "m", "n"]
    assert [tuple(r) for r in multi.select(*cols).collect()] == [
        tuple(r) for r in chained.orderBy("pos").select(*cols).collect()
    ]
    import pytest

    with pytest.raises(ValueError, match="first/last"):
        grouping.win_group_aggs(df, {"f": ("first", "val")}, "grp")


def test_grid_agg(spark):
    s = seq(spark, [1.0, 2.0, 3.0, 4.0, 5.0])
    out = grouping.grid_agg(s, "avg", 2).orderBy("pos")
    assert [r["grid_avg"] for r in out.collect()] == [1.5, 3.5, 5.0]


def test_hash_agg_counts(spark):
    s = seq(spark, [1, 3, 1, 4, 2, 2], "int")
    out = grouping.hash_agg(s, {"cnt": ("count", "val")}, ["val"]).orderBy("val")
    rows = out.collect()
    assert [(r["val"], r["cnt"]) for r in rows] == [(1, 2), (2, 2), (3, 1), (4, 1)]


def test_hash_dup_count(spark):
    rows = [(1, "a"), (1, "a"), (1, "b"), (2, "c")]
    df = spark.createDataFrame(rows, "k int, v string")
    out = grouping.hash_dup_count(df, "v", ["k"], 2).collect()
    assert {(r["k"], r["dup_count"]) for r in out} == {(1, 1)}
    out2 = grouping.hash_dup_count(df, "v", ["k"], 1).collect()
    assert {(r["k"], r["dup_count"]) for r in out2} == {(1, 2), (2, 1)}


def test_histogram(spark):
    s = seq(spark, [0.5, 1.5, 2.5, 1.6, 9.9, 10.0])
    out = grouping.histogram(s, 0.0, 10.0, 5).orderBy("pos")
    # width 2: [0,2)→{0.5,1.5,1.6}, [2,4)→{2.5}, [8,10)→{9.9}; 10.0 excluded
    assert [r["count"] for r in out.collect()] == [3, 1, 0, 0, 1]


def test_if_streams_demand_driven(spark):
    # reference cs_if golden (FIXTURES.md §3): [1,0,1] ? [1,2,3] : [.1,.2,.3]
    # -> [1.0, 0.1, 2.0]  (streams consumed independently)
    cond = seq(spark, [1, 0, 1], "int")
    a = seq(spark, [1.0, 2.0, 3.0])
    b = seq(spark, [0.1, 0.2, 0.3])
    out = positional.if_streams(cond, a, b)
    assert_seq(out, [1.0, 0.1, 2.0])


def test_iif_vs_if(spark):
    # cs_iif advances both sides in lockstep: [1,0,1]?[1,2,3]:[.1,.2,.3]
    # -> [1.0, 0.2, 3.0]
    from imcs_spark.functions import elementwise as E
    from pyspark.sql import functions as F

    cond = seq(spark, [1, 0, 1], "int").withColumnRenamed("val", "c")
    a = seq(spark, [1.0, 2.0, 3.0]).withColumnRenamed("val", "a")
    b = seq(spark, [0.1, 0.2, 0.3]).withColumnRenamed("val", "b")
    df = cond.join(a, "pos").join(b, "pos")
    out = df.withColumn("val", E.iif(F.col("c"), F.col("a"), F.col("b")))
    assert_seq(out.select("pos", "val"), [1.0, 0.2, 3.0])


def test_stretch_exact_matches_declarative_on_golden(spark):
    ts1 = seq(spark, [1, 2, 3, 4, 5], "int")
    ts2 = seq(spark, [2, 4], "int")
    vals = seq(spark, [1.1, 2.2])
    out = joins.stretch_exact(ts1, ts2, vals, 1.0).orderBy("pos")
    assert [r["val"] for r in out.collect()] == [
        pytest.approx(x) for x in [1.1, 2.2, 2.2, 1.0, 1.0]
    ]


def test_stretch_exact_lockstep_divergence(spark):
    """The reference's cursor advances at most once per left element
    (func.c:4332-4352): with right ticking twice between left elements
    the cursor lags and emits the SECOND value where the declarative
    form has already run past the end."""
    ts1 = seq(spark, [1, 5], "int")
    ts2 = seq(spark, [2, 3], "int")
    vals = seq(spark, [10.0, 20.0])
    lock = [r["val"] for r in joins.stretch_exact(ts1, ts2, vals, -1.0).orderBy("pos").collect()]
    decl = [r["val"] for r in joins.stretch(ts1, ts2, vals, -1.0).orderBy("pos").collect()]
    assert lock == [pytest.approx(10.0), pytest.approx(20.0)]
    assert decl == [pytest.approx(10.0), pytest.approx(-1.0)]


def test_stretch_exact_property_vs_model(spark):
    """Randomized keyed series vs the sequential reference model."""
    import random

    rng = random.Random(11)
    rows_l, rows_r = [], []
    expect = {}
    for key in ("a", "b", "c"):
        lts = sorted(rng.sample(range(50), rng.randint(3, 10)))
        rn = rng.randint(0, 6)
        rts = sorted(rng.sample(range(50), rn))
        rvs = [round(rng.uniform(0, 9), 3) for _ in range(rn)]
        rows_l += [(key, i, float(t)) for i, t in enumerate(lts)]
        rows_r += [(key, i, float(t), v) for i, (t, v) in enumerate(zip(rts, rvs))]
        # sequential model (func.c:4308-4392)
        k, end, cur, next_ts = 0, False, None, float("-inf")
        out = []
        for t in lts:
            if not end and t >= next_ts:
                if k < len(rts):
                    next_ts, cur = rts[k], rvs[k]
                    k += 1
                else:
                    end, cur = True, -1.0
            out.append(cur)
        expect[key] = out
    l = spark.createDataFrame(rows_l, "k string, pos long, val double")
    r_ts = spark.createDataFrame(
        [(k, p, t) for k, p, t, _ in rows_r], "k string, pos long, val double"
    )
    r_v = spark.createDataFrame(
        [(k, p, v) for k, p, _, v in rows_r], "k string, pos long, val double"
    )
    got = {}
    for row in joins.stretch_exact(l, r_ts, r_v, -1.0, partition_by=["k"]).collect():
        got.setdefault(row["k"], {})[row["pos"]] = row["val"]
    for key, exp in expect.items():
        vals = [got[key][i] for i in range(len(exp))]
        assert vals == [pytest.approx(x) for x in exp], key


def test_global_sort_rank_keep_null_values(spark):
    """The two-phase de-skewed global paths join blocks back on the
    value column; that join must be null-SAFE — a plain equi-join
    silently dropped NULL-valued rows (the reference's C arrays cannot
    hold NULLs, so Spark's nulls-first-asc placement is the documented
    extension)."""
    from imcs_spark.operators import sorting

    rows = [(0, 5.0), (1, None), (2, 3.0), (3, 5.0), (4, None), (5, 1.0)]
    df = spark.createDataFrame(rows, "pos long, val double")

    asc = [(r.pos, r.val) for r in sorting.sort(df).orderBy("pos").collect()]
    assert asc == [(0, None), (1, None), (2, 1.0), (3, 3.0), (4, 5.0), (5, 5.0)]
    desc = [(r.pos, r.val) for r in sorting.sort(df, "desc").orderBy("pos").collect()]
    assert desc == [(0, 5.0), (1, 5.0), (2, 3.0), (3, 1.0), (4, None), (5, None)]
    rk = dict((r.pos, r.rank) for r in sorting.rank(df).collect())
    assert rk == {0: 5, 1: 1, 2: 4, 3: 5, 4: 1, 5: 3}
    dr = dict((r.pos, r.dense_rank) for r in sorting.dense_rank(df).collect())
    assert dr == {0: 4, 1: 1, 2: 3, 3: 4, 4: 1, 5: 2}


def test_asof_join_null_right_payload(spark):
    """A genuinely NULL right payload must be returned as NULL (the old
    per-column ignorenulls carry skipped it and served a staler row),
    and multiple payload columns must come from the SAME right row."""
    from imcs_spark.operators import joins

    left = spark.createDataFrame([(3,)], "ts long")
    right = spark.createDataFrame([(1, 10.0), (2, None)], "ts long, v double")
    out = joins.asof_join(left, right, on="ts", direction="backward").collect()
    assert out[0]["v"] is None

    right2 = spark.createDataFrame(
        [(1, 10.0, None), (2, None, 20.0)], "ts long, a double, b double"
    )
    out = joins.asof_join(left, right2, on="ts", direction="backward").collect()
    assert out[0]["a"] is None and out[0]["b"] == 20.0

    left3 = spark.createDataFrame([(5,)], "ts long")
    right3 = spark.createDataFrame([(4, None), (7, 70.0)], "ts long, v double")
    out = joins.asof_join(left3, right3, on="ts", direction="nearest").collect()
    assert out[0]["v"] is None  # nearest picks ts=4 whose value IS null


def test_stretch0_duplicate_timestamps(spark):
    """Duplicate timestamps pair one-to-one by occurrence (reference
    merge consumes ONE matching left element per right element)."""
    from imcs_spark.operators import joins
    from imcs_spark.series import seq

    out = joins.stretch0(
        seq(spark, [5, 5], "int"), seq(spark, [5], "int"),
        seq(spark, [10.0]), -1.0,
    )
    assert [(r.pos, r.val) for r in out.orderBy("pos").collect()] == [
        (0, 10.0), (1, -1.0)
    ]
    out = joins.stretch0(
        seq(spark, [5], "int"), seq(spark, [5, 5], "int"),
        seq(spark, [10.0, 20.0]), -1.0,
    )
    assert [(r.pos, r.val) for r in out.orderBy("pos").collect()] == [
        (0, 10.0), (1, 20.0)
    ]


def test_stretch_exact_int64_precision(spark):
    """Nanosecond-scale int64 timelines must compare exactly: the two
    right ticks straddling 2^53*256 differ by 1 unit and collapse under
    a double cast, which would advance the lockstep cursor wrongly."""
    from imcs_spark.operators import joins
    from imcs_spark.series import seq

    base = (1 << 61) + 1  # not representable as double (rounds to 2^61)
    l = seq(spark, [base - 1, base, base + 1], "long")
    r = seq(spark, [base, base + 1], "long")
    v = seq(spark, [10.0, 20.0])
    got = [
        (row.pos, row.val)
        for row in joins.stretch_exact(l, r, v, -1.0).orderBy("pos").collect()
    ]
    # lockstep: t=base-1 consumes (base,10); t=base >= base consumes
    # (base+1,20); t=base+1 >= base+1 exhausts -> filler
    assert got == [(0, 10.0), (1, 20.0), (2, -1.0)], got


def test_cum_agg_global_int_and_null_partitions(spark):
    """min/max carries must float-coerce int inputs (double schema) and
    skip all-NULL partitions instead of comparing None."""
    from imcs_spark.operators import windows

    rows = [(i, v) for i, v in enumerate([5, 3, None, 7, 1, None, 9, 0])]
    df = spark.createDataFrame(rows, "pos long, val int")
    out = {r.pos: r.cum_min for r in windows.cum_agg_global(df, "min", num_partitions=3).collect()}
    assert out == {0: 5.0, 1: 3.0, 2: 3.0, 3: 3.0, 4: 1.0, 5: 1.0, 6: 1.0, 7: 0.0}

    rows = [(0, None), (1, None), (2, None), (3, 4.0), (4, 2.0), (5, 8.0)]
    df = spark.createDataFrame(rows, "pos long, val double")
    out = {r.pos: r.cum_min for r in windows.cum_agg_global(df, "min", num_partitions=3).collect()}
    assert out == {0: None, 1: None, 2: None, 3: 4.0, 4: 2.0, 5: 2.0}

    # r11 (round-10 ADVICE): a leading partition whose only values are
    # NaN must be REMEMBERED by the min carry — a later row whose own
    # local prefix is all-NULL sees NaN (Spark's single-window F.min
    # returns NaN when only NaNs exist), and any later REAL value
    # displaces the NaN (least() sorts NaN largest). Dropping the NaN
    # partition minimum returned NULL; Python min() made it sticky.
    import math

    nan = float("nan")
    rows = [(0, nan), (1, nan), (2, None), (3, None), (4, 2.0), (5, 8.0)]
    df = spark.createDataFrame(rows, "pos long, val double")
    want = {
        r.pos: r.m
        for r in df.selectExpr(
            "pos",
            "min(val) OVER (ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING"
            " AND CURRENT ROW) AS m",
        ).collect()
    }
    got = {r.pos: r.cum_min for r in windows.cum_agg_global(df, "min", num_partitions=3).collect()}
    assert set(got) == set(want)
    for k in want:
        if want[k] is None:
            assert got[k] is None, (k, got[k])
        elif math.isnan(want[k]):
            assert got[k] is not None and math.isnan(got[k]), (k, got[k])
        else:
            assert got[k] == want[k], (k, got[k], want[k])


def test_div_null_propagation(spark):
    """NULL inputs must stay NULL — not become ±inf/NaN through the
    div-by-zero branches."""
    import math

    from imcs_spark.functions import elementwise as E

    rows = [(5.0, None), (None, 0.0), (None, None), (5.0, 0.0), (0.0, 0.0)]
    df = spark.createDataFrame(rows, "a double, b double")
    got = [r.d for r in df.select(E.div("a", "b").alias("d")).collect()]
    assert got[0] is None and got[1] is None and got[2] is None
    assert got[3] == float("inf") and math.isnan(got[4])


def test_repeat_zero_is_empty(spark):
    from imcs_spark.operators import positional
    from imcs_spark.series import seq

    assert positional.repeat(seq(spark, [1.0, 2.0]), 0).count() == 0
    assert positional.repeat(seq(spark, [1.0, 2.0]), 2).count() == 4


def test_histogram_float_boundary(spark):
    """A value that floor()s to n_intervals through float rounding must
    land in the LAST bucket, not vanish."""
    from imcs_spark.operators import grouping
    from imcs_spark.series import seq

    s = seq(spark, [0.6999999999999999])
    out = {r.pos: r["count"] for r in grouping.histogram(s, 0.0, 0.7, 7).collect()}
    assert sum(out.values()) == 1 and out[6] == 1, out


def test_seq_empty_keeps_element_type(spark):
    from imcs_spark.series import seq

    e = seq(spark, [], "bigint")
    assert e.schema["val"].dataType.simpleString() == "bigint"
    # and it unions cleanly with a populated series of the same type
    assert e.unionByName(seq(spark, [1, 2], "bigint")).count() == 2


def test_unit_zero_norm_vector(spark):
    """A zero embedding must score cosine 0 (not NULL) and never pad
    the top-k as a ranked NULL match."""
    from imcs_spark.pipeline import similarity

    rows = [(0, [1.0, 0.0]), (1, [0.0, 0.0]), (2, [0.0, 1.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = spark.createDataFrame([(0, [1.0, 0.0])], "query_id long, embedding array<double>")
    out = similarity.brute_force_topk(emb, q, k=3).collect()
    scores = {r.vec_id: r.cosine for r in out}
    assert scores[1] == 0.0 and scores[0] == 1.0


def test_moving_and_cum_global_null_parity(spark):
    """Global partition-carry paths must agree with the plain
    null-skipping window on series containing NULLs (head rows used to
    poison to NULL / count NULL elements; all-NULL local prefixes used
    to erase the carry)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from imcs_spark.operators import windows

    rows = [(i, v) for i, v in enumerate([1.0, None, 3.0, None, 5.0, 6.0, None, 8.0])]
    df = spark.createDataFrame(rows, "pos long, val double")
    wmov = Window.orderBy("pos").rowsBetween(-2, 0)
    wcum = Window.orderBy("pos").rowsBetween(Window.unboundedPreceding, 0)
    for agg, fn in [("sum", F.sum), ("count", F.count), ("min", F.min),
                    ("max", F.max), ("avg", F.avg)]:
        ref = {r.pos: r.ref for r in df.withColumn("ref", fn("val").over(wmov)).collect()}
        got = {
            r.pos: r[f"window_{agg}"]
            for r in windows.moving_agg_global(df, agg, 3, num_partitions=3).collect()
        }
        assert got == ref, ("moving", agg, got, ref)
        ref = {r.pos: r.ref for r in df.withColumn("ref", fn("val").over(wcum)).collect()}
        got = {
            r.pos: r[f"cum_{agg}"]
            for r in windows.cum_agg_global(df, agg, num_partitions=3).collect()
        }
        assert got == ref, ("cum", agg, got, ref)


def test_approxdc_hll128_ignores_nulls(spark):
    from imcs_spark.functions import aggregates as A

    df = spark.createDataFrame([(1,), (2,), (None,), (None,)], "v int")
    n = A.approxdc_hll128(df, "v").collect()[0]["approxdc"]
    assert n == 2, n


def test_recurrence_replaced_column_keeps_position(spark):
    """_recurrence_apply replaces an existing out_col IN PLACE
    (withColumn semantics — round-10 ADVICE: it used to re-append the
    column at the end, so positional consumers saw a reordered
    schema), on both the keyed and the global path."""
    from imcs_spark.operators import windows

    rows = [(0, 0.0, 1.0, "a"), (1, 0.0, 2.0, "a"), (0, 0.0, 3.0, "b")]
    df = spark.createDataFrame(rows, "pos long, ema double, val double, sid string")
    out = windows.ema(df, 3, "val", partition_by=["sid"], out_col="ema")
    assert out.columns == df.columns
    assert [r.ema for r in out.filter("sid = 'a'").orderBy("pos").collect()] == [
        1.0, 1.5
    ]
    gdf = df.filter("sid = 'a'").drop("sid")
    gout = windows.ema(gdf, 3, "val", out_col="ema")
    assert gout.columns == gdf.columns
