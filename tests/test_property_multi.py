"""Randomized multi-series property tests.

20 seeded random series ride in ONE DataFrame (case id = series key);
each operator runs partitioned by case and every series is compared to
a pure-Python model of the reference semantics. This exercises the
partition_by code paths (the shape that matters at scale) and the
operator semantics at once.
"""

import random

import pytest
from pyspark.sql import functions as F

N_CASES = 20
LEN = 40


def test_fourth_review_operator_edges(spark, monkeypatch):
    """Round-5 fourth review pass: NULL-safe unique adjacency (both
    the window and global-join paths), head/tail(0) emptiness, ANSI-
    safe mod/bit_not, int-input logical_not, and all-zero norm."""
    import math

    from imcs_spark import series
    from imcs_spark.functions import elementwise as E
    from imcs_spark.operators import positional as P
    from imcs_spark.operators import timeseries as TS

    df = series.seq(spark, [1.0, None, 2.0, None, None])
    # NULL after a value is NOT an adjacent duplicate; NULL,NULL is.
    # The literal frame is small, so unique takes its lag window; a
    # negative size gate forces the pos self-join path
    want = [1.0, None, 2.0, None]
    assert [r.val for r in P.unique(df).orderBy("pos").collect()] == want
    with monkeypatch.context() as m:
        m.setattr(series, "_SMALL_INPUT_BYTES", -1)
        assert [r.val for r in P.unique(df).orderBy("pos").collect()] == want
    s = spark.createDataFrame([(i, float(i)) for i in range(5)], "pos long, val double")
    assert P.head(s, 0).count() == 0
    assert P.tail(s, 0).count() == 0
    assert P.head(s, 2).count() == 2
    row = spark.createDataFrame([(7, 0, -(2**63))], "a long, b long, c long").select(
        E.mod("a", "b").alias("m0"),
        E.mod("a", F.lit(4)).alias("m4"),
        E.bit_not("c").alias("bn"),
        E.logical_not(F.lit(1)).alias("ln"),
    ).collect()[0]
    assert row.m0 is None and row.m4 == 3
    assert row.bn == 2**63 - 1 and row.ln is False
    z = spark.createDataFrame([(0, 0.0), (1, 0.0)], "pos long, val double")
    assert all(math.isnan(r.norm) for r in TS.norm(z).collect())


def test_unique_small_global_frame_uses_lag_window(spark):
    """A small unkeyed frame takes unique's lag window (one window over
    one partition), not the pos self-join the large global path uses:
    the operator reads the size gate, not a caller flag."""
    from imcs_spark.operators import positional as P
    from imcs_spark.series import seq

    out = P.unique(seq(spark, [1.0, 1.0, 2.0, 2.0, 2.0, 1.0, 3.0]))
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan and "lag(" in plan, plan
    assert [r.val for r in out.orderBy("pos").collect()] == [1.0, 2.0, 1.0, 3.0]
    assert [r.pos for r in out.orderBy("pos").collect()] == [0, 1, 2, 3]


def test_stretch_exact_ntz_dst_safe(spark):
    """NTZ timelines use LINEAR wall-clock micros: under a DST-bearing
    session timezone, a cast through TIMESTAMP collapses the
    spring-forward hour (02:30 and 03:30 NTZ on 2025-03-09 map to the
    SAME instant in America/Los_Angeles), which advanced the lockstep
    cursor at the wrong left element."""
    import datetime as dt

    from imcs_spark.operators import joins as J

    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        t = dt.datetime(2025, 3, 9)
        mk = lambda rows: spark.createDataFrame(  # noqa: E731
            rows, "pos long, val timestamp_ntz"
        )
        ts1 = mk([(0, t.replace(hour=2)), (1, t.replace(hour=3)), (2, t.replace(hour=4))])
        ts2 = mk([(0, t.replace(hour=2, minute=30)), (1, t.replace(hour=3, minute=30))])
        vals = spark.createDataFrame([(0, 10.0), (1, 20.0)], "pos long, val double")
        out = J.stretch_exact(ts1, ts2, vals, filler=-1.0)
        assert sorted((r.pos, r.val) for r in out.collect()) == [
            (0, 10.0), (1, 20.0), (2, -1.0)
        ]
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev_tz)


def _cases(value_gen):
    rng = random.Random(42)
    return {c: [value_gen(rng) for _ in range(LEN)] for c in range(N_CASES)}


def _frame(spark, cases, typ="double"):
    rows = [(c, i, v) for c, vals in cases.items() for i, v in enumerate(vals)]
    return spark.createDataFrame(rows, f"case int, pos long, val {typ}")


def _collect(df, cols):
    out = {}
    for r in df.collect():
        out.setdefault(r["case"], []).append(tuple(r[c] for c in ["pos"] + cols))
    return {c: [t[1:] for t in sorted(v)] for c, v in out.items()}


# --- python models of reference semantics ----------------------------------
def model_trend(vals):
    out, t = [], 0
    for i, v in enumerate(vals):
        if i > 0:
            t = -1 if v < vals[i - 1] else 1 if v > vals[i - 1] else t
        out.append(t)
    return out


def model_diff(vals):
    return [0 if i == 0 else v - vals[i - 1] for i, v in enumerate(vals)]


def model_rank(vals):
    s = sorted(vals)
    return [s.index(v) + 1 for v in vals]


def model_dense_rank(vals):
    s = sorted(set(vals))
    return [s.index(v) + 1 for v in vals]


def model_moving_sum(vals, n):
    return [sum(vals[max(0, i - n + 1) : i + 1]) for i in range(len(vals))]


def model_cum_max(vals):
    out, m = [], None
    for v in vals:
        m = v if m is None else max(m, v)
        out.append(m)
    return out


def model_run_sums(vals, groups):
    runs, cur_g = [], object()
    for g, v in zip(groups, vals):
        if g != cur_g:
            runs.append([g, 0.0, 0])
            cur_g = g
        runs[-1][1] += v
        runs[-1][2] += 1
    return runs


def model_cross(vals):
    out, prev, nz = [], 0, 0
    for i, v in enumerate(vals):
        s = -1 if v < 0 else 1 if v > 0 else 0
        if s != prev:
            if (prev & s) != 0:
                out.append(i - nz)
            if s != 0:
                prev, nz = s, 0
            else:
                nz += 1
    return out


def model_extrema(vals, first=0):
    out, prev_t = [], 0
    for i in range(1, len(vals)):
        t = -1 if vals[i] < vals[i - 1] else 1 if vals[i] > vals[i - 1] else 0
        if t != prev_t:
            if (prev_t & t) != 0 and (first == 0 or prev_t == first):
                out.append(i - 1)
            if t != 0:
                prev_t = t
    return out


def model_ema(vals, n):
    p = 2.0 / (n + 1)
    out = []
    for i, v in enumerate(vals):
        out.append(v if i == 0 else v * p + out[-1] * (1 - p))
    return out


def model_atr(vals, n):
    out, acc = [], 0.0
    for i, v in enumerate(vals):
        m = min(i + 1, n)
        acc = (acc * (m - 1) + v) / m
        out.append(acc)
    return out


def model_quantile(vals, q):
    s = sorted(vals)
    c = len(s)
    return [s[c * i // q] for i in range(q)] + [s[-1]]


# --- tests ------------------------------------------------------------------
@pytest.fixture(scope="module")
def floats(spark):
    cases = _cases(lambda rng: round(rng.uniform(-100, 100), 3))
    return cases, _frame(spark, cases)


@pytest.fixture(scope="module")
def ints(spark):
    cases = _cases(lambda rng: rng.randint(-3, 3))
    return cases, _frame(spark, cases, "int")


def test_trend_property(floats, spark):
    from imcs_spark.operators import timeseries

    cases, df = floats
    got = _collect(timeseries.trend(df, "val", ["case"]), ["trend"])
    for c, vals in cases.items():
        assert [t[0] for t in got[c]] == model_trend(vals), f"case {c}"


def test_diff_property(floats, spark):
    from imcs_spark.operators import timeseries

    cases, df = floats
    got = _collect(timeseries.diff(df, "val", ["case"]), ["diff"])
    for c, vals in cases.items():
        expect = model_diff(vals)
        for (g,), e in zip(got[c], expect):
            assert g == pytest.approx(e), f"case {c}"


def test_rank_property(floats, spark):
    from imcs_spark.operators import sorting

    cases, df = floats
    got = _collect(sorting.rank(df, "val", ["case"]), ["rank"])
    got_d = _collect(sorting.dense_rank(df, "val", ["case"]), ["dense_rank"])
    for c, vals in cases.items():
        assert [t[0] for t in got[c]] == model_rank(vals), f"case {c}"
        assert [t[0] for t in got_d[c]] == model_dense_rank(vals), f"case {c}"


def test_moving_cum_property(floats, spark):
    from imcs_spark.operators import windows

    cases, df = floats
    got = _collect(windows.moving_agg(df, "sum", 7, "val", ["case"]), ["window_sum"])
    got_cm = _collect(windows.cum_agg(df, "max", "val", ["case"]), ["cum_max"])
    for c, vals in cases.items():
        for (g,), e in zip(got[c], model_moving_sum(vals, 7)):
            assert g == pytest.approx(e), f"case {c}"
        assert [t[0] for t in got_cm[c]] == model_cum_max(vals), f"case {c}"


def test_run_groups_property(ints, spark):
    from imcs_spark.operators import grouping

    cases, dfi = ints
    df = dfi.withColumn("grp", F.col("val")).withColumn(
        "val", F.col("val").cast("double")
    )
    out = grouping.group_aggs(
        df, {"s": ("sum", "val"), "n": ("count", "val")}, "grp", ["case"]
    )
    got = _collect(out.select("case", "pos", "grp", "s", "n"), ["grp", "s", "n"])
    for c, vals in cases.items():
        expect = model_run_sums([float(v) for v in vals], vals)
        assert len(got[c]) == len(expect), f"case {c}"
        for (g_grp, g_s, g_n), (e_grp, e_s, e_n) in zip(got[c], expect):
            assert g_grp == e_grp and g_n == e_n and g_s == pytest.approx(e_s), f"case {c}"


def test_cross_property(ints, spark):
    from imcs_spark.operators import timeseries

    cases, df = ints
    got = _collect(timeseries.cross(df, 0, "val", ["case"]), ["val"])
    for c, vals in cases.items():
        assert [t[0] for t in got.get(c, [])] == model_cross(vals), f"case {c}"


def test_extrema_property(ints, spark):
    from imcs_spark.operators import timeseries

    cases, df = ints
    for first in (0, 1, -1):
        got = _collect(timeseries.extrema(df, first, "val", ["case"]), ["val"])
        for c, vals in cases.items():
            assert [t[0] for t in got.get(c, [])] == model_extrema(vals, first), (
                f"case {c} first={first}"
            )


def test_recurrences_property(floats, spark):
    from imcs_spark.operators import windows

    cases, df = floats
    out = windows.recurrences(df, {"e": "ema:9", "a": "atr:9"}, "val", ["case"])
    got = _collect(out.select("case", "pos", "e", "a"), ["e", "a"])
    for c, vals in cases.items():
        for (ge, ga), ee, ea in zip(got[c], model_ema(vals, 9), model_atr(vals, 9)):
            assert ge == pytest.approx(ee) and ga == pytest.approx(ea), f"case {c}"


def test_quantile_property(floats, spark):
    from imcs_spark.operators import sorting

    cases, df = floats
    out = sorting.quantile(df, 4, "val", ["case"])
    got = _collect(out.select("case", "pos", "val"), ["val"])
    for c, vals in cases.items():
        assert [t[0] for t in got[c]] == pytest.approx(model_quantile(vals, 4)), f"case {c}"


def test_global_scalable_windows(spark):
    """Global-series cum/moving aggregates via the two-phase partition-
    carry formulation must equal the single-partition window results."""
    import random

    from imcs_spark.operators import windows

    rng = random.Random(7)
    vals = [round(rng.uniform(-50, 50), 3) for _ in range(500)]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "pos long, val double"
    )
    got = {
        r["pos"]: (r["cum_sum"], r["cum_min"])
        for r in windows.cum_agg_global(
            windows.cum_agg_global(df, "sum", num_partitions=7),
            "min",
            num_partitions=7,
        ).collect()
    }
    run_s, run_m = 0.0, None
    for i, v in enumerate(vals):
        run_s += v
        run_m = v if run_m is None else min(run_m, v)
        gs, gm = got[i]
        assert gs == pytest.approx(run_s) and gm == pytest.approx(run_m), i

    mov = {
        r["pos"]: r["window_sum"]
        for r in windows.moving_agg_global(df, "sum", 9, num_partitions=7).collect()
    }
    for i in range(len(vals)):
        expect = sum(vals[max(0, i - 8) : i + 1])
        assert mov[i] == pytest.approx(expect), i
    mv_min = {
        r["pos"]: r["window_min"]
        for r in windows.moving_agg_global(df, "min", 9, num_partitions=7).collect()
    }
    for i in range(len(vals)):
        assert mv_min[i] == pytest.approx(min(vals[max(0, i - 8) : i + 1])), i


def test_ema_global_matches_sequential(spark):
    import random

    from imcs_spark.operators import windows

    rng = random.Random(11)
    vals = [round(rng.uniform(-10, 10), 3) for _ in range(400)]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "pos long, val double"
    )
    got = {
        r["pos"]: r["ema"]
        for r in windows.ema_global(df, 12, num_partitions=6).collect()
    }
    for i, e in enumerate(model_ema(vals, 12)):
        assert got[i] == pytest.approx(e, rel=1e-9), i


def test_global_var_dev(spark):
    """(Σx, Σx², n)-carry var/dev in the global cum/moving paths —
    reference cs_cum_var/dev, cs_window_var/dev (func.c:1632-1897,
    population variance)."""
    import random

    from imcs_spark.operators import windows

    rng = random.Random(23)
    vals = [round(rng.uniform(-20, 20), 3) for _ in range(300)]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "pos long, val double"
    )

    def pvar(xs):
        m = sum(xs) / len(xs)
        return sum((x - m) ** 2 for x in xs) / len(xs)

    got_cv = {
        r["pos"]: (r["cum_var"], r["cum_dev"])
        for r in windows.cum_agg_global(
            windows.cum_agg_global(df, "var", num_partitions=7),
            "dev",
            num_partitions=7,
        ).collect()
    }
    for i in range(len(vals)):
        v = pvar(vals[: i + 1])
        assert got_cv[i][0] == pytest.approx(v, abs=1e-7), i
        assert got_cv[i][1] == pytest.approx(v ** 0.5, abs=1e-7), i

    got_mv = {
        r["pos"]: r["window_var"]
        for r in windows.moving_agg_global(df, "var", 9, num_partitions=7).collect()
    }
    for i in range(len(vals)):
        assert got_mv[i] == pytest.approx(pvar(vals[max(0, i - 8) : i + 1]), abs=1e-7), i


def test_moving_global_tiny_partitions(spark):
    """Windows spanning MULTIPLE partitions back: 100 rows split over
    ~25 range partitions (≈4 rows each) with n=30 — every head row's
    window crosses several partitions, exercising the cumulative-tail
    chain (not just the immediately previous partition)."""
    import random

    from imcs_spark.operators import windows

    rng = random.Random(31)
    vals = [round(rng.uniform(0, 10), 3) for _ in range(100)]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "pos long, val double"
    )
    got = {
        r["pos"]: r["window_sum"]
        for r in windows.moving_agg_global(df, "sum", 30, num_partitions=25).collect()
    }
    assert len(got) == len(vals)
    for i in range(len(vals)):
        assert got[i] == pytest.approx(sum(vals[max(0, i - 29) : i + 1])), i
    got_min = {
        r["pos"]: r["window_min"]
        for r in windows.moving_agg_global(df, "min", 30, num_partitions=25).collect()
    }
    for i in range(len(vals)):
        assert got_min[i] == pytest.approx(min(vals[max(0, i - 29) : i + 1])), i


def test_atr_global_matches_sequential(spark):
    """ATR splitting: warm-up (first n-1 rows) sequential, the rest via
    the α=1/n EWM carry chain — must equal the row-by-row Wilder model
    (func.c:1779-1790), including across tiny partitions."""
    import random

    from imcs_spark.operators import windows

    rng = random.Random(37)
    vals = [round(rng.uniform(0, 100), 3) for _ in range(400)]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "pos long, val double"
    )
    for n, parts in ((14, 6), (5, 25)):
        got = {
            r["pos"]: r["atr"]
            for r in windows.atr_global(df, n, num_partitions=parts).collect()
        }
        model = model_atr(vals, n)
        assert len(got) == len(vals)
        for i, e in enumerate(model):
            assert got[i] == pytest.approx(e, rel=1e-9), (n, i)


def test_quantile_approx_rank_guarantee(floats, spark):
    """percentile_approx boundaries must honor the GK rank guarantee
    per group: each returned value's rank interval intersects
    target ± ceil(n/accuracy)."""
    from imcs_spark.operators import sorting

    cases, df = floats
    out = sorting.quantile_approx(df, 4, "val", ["case"], accuracy=100)
    got = _collect(out.select("case", "pos", "val"), ["val"])
    for c, vals in cases.items():
        sv = sorted(vals)
        n = len(sv)
        eps = n // 100 + 1
        approx = [t[0] for t in got[c]]
        assert len(approx) == 5, f"case {c}"
        for i, av in enumerate(approx):
            target = (n * i) // 4 if i < 4 else n - 1
            lt = sum(1 for v in sv if v < av)
            le = sum(1 for v in sv if v <= av)
            assert le >= target - eps and lt <= target + eps, (
                f"case {c} pos {i}: value {av} rank [{lt},{le}] vs target {target}"
            )


def test_cum_prd_global_matches_sequential(spark):
    """Global running product via the (Σlog|x|, #zeros, #negatives)
    partition-carry must equal the sequential product, including a
    zero pinning the suffix and sign flips across partitions."""
    import random

    from imcs_spark.operators import windows

    rng = random.Random(13)
    vals = [round(rng.uniform(-1.2, 1.2), 3) for _ in range(300)]
    vals[120] = 0.0  # zero mid-series: everything after must be 0
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "pos long, val double"
    )
    got = {
        r["pos"]: r["cum_prd"]
        for r in windows.cum_agg_global(df, "prd", num_partitions=7).collect()
    }
    run = 1.0
    for i, v in enumerate(vals):
        run *= v
        assert got[i] == pytest.approx(run, rel=1e-9, abs=1e-12), i


def test_global_carries_with_random_nulls(spark):
    """Randomized NULL-bearing series: every global partition-carry
    aggregate must equal the plain single-window (null-skipping)
    semantics — heads, interiors, all-NULL prefixes, and all-NULL
    partitions alike."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from imcs_spark.operators import windows

    rng = random.Random(99)
    vals = [
        None if rng.random() < 0.3 else round(rng.uniform(-50, 50), 3)
        for _ in range(200)
    ]
    # force an all-NULL leading block (spans the first partition)
    for i in range(30):
        vals[i] = None
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "pos long, val double"
    )
    wcum = Window.orderBy("pos").rowsBetween(Window.unboundedPreceding, 0)
    wmov = Window.orderBy("pos").rowsBetween(-4, 0)
    aggs = [("sum", F.sum), ("count", F.count), ("min", F.min),
            ("max", F.max), ("avg", F.avg)]
    for agg, fn in aggs:
        ref = {r.pos: r.ref for r in df.withColumn("ref", fn("val").over(wcum)).collect()}
        got = {
            r.pos: r[f"cum_{agg}"]
            for r in windows.cum_agg_global(df, agg, num_partitions=6).collect()
        }
        for p in ref:
            if ref[p] is None or got[p] is None:
                assert ref[p] == got[p], ("cum", agg, p, ref[p], got[p])
            else:
                assert got[p] == pytest.approx(ref[p], rel=1e-9), ("cum", agg, p)
        ref = {r.pos: r.ref for r in df.withColumn("ref", fn("val").over(wmov)).collect()}
        got = {
            r.pos: r[f"window_{agg}"]
            for r in windows.moving_agg_global(df, agg, 5, num_partitions=6).collect()
        }
        for p in ref:
            if ref[p] is None or got[p] is None:
                assert ref[p] == got[p], ("mov", agg, p, ref[p], got[p])
            else:
                assert got[p] == pytest.approx(ref[p], rel=1e-9), ("mov", agg, p)


def test_global_windows_edge_review_fixes(spark):
    """Round-10 review fixes for the global/recurrence paths, pinned:

    - cum_agg_global min/max: an all-NaN leading partition must not
      poison later carries (Spark's window min skips NaN when a real
      value exists; Python min() propagates it order-dependently);
    - cum_agg_global min/max carries travel in the VALUE's own type —
      timestamps work instead of TypeError-ing in float();
    - sum-family over a non-float-convertible/Decimal column fails at
      the API instead of corrupting digits through float();
    - recurrences() rejects unknown kernel specs instead of silently
      computing ATR under a misspelled name;
    - a recurrence out_col that collides with an existing column
      REPLACES it (withColumn semantics), and colliding with the
      value/order column raises;
    - ema_global on a NULL-bearing series fails loudly (the linear
      split cannot reproduce pandas' NaN renormalization);
    - NaT partition keys group together instead of restarting the
      recurrence per row (NaT != NaT is True, like NaN)."""
    import datetime as dt
    import math

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from imcs_spark.operators import windows

    nan = float("nan")
    # partition 0 (pos 0-9, 6 buckets -> first bucket) is all-NaN
    vals = [nan] * 10 + [5.0, 9.0, nan, 2.0] + [7.0] * 26
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "pos long, val double"
    )
    wcum = Window.orderBy("pos").rowsBetween(Window.unboundedPreceding, 0)
    for agg, fn in (("min", F.min), ("max", F.max)):
        ref = {r.pos: r.ref for r in df.withColumn("ref", fn("val").over(wcum)).collect()}
        got = {
            r.pos: r[f"cum_{agg}"]
            for r in windows.cum_agg_global(df, agg, num_partitions=6).collect()
        }
        for p, rv in ref.items():
            gv = got[p]
            same = (
                rv == gv
                or (rv is None and gv is None)
                or (
                    isinstance(rv, float) and isinstance(gv, float)
                    and math.isnan(rv) and math.isnan(gv)
                )
            )
            assert same, (agg, p, rv, gv)

    # timestamp cum_min via the global path
    t0 = dt.datetime(2021, 3, 1)
    ts = spark.createDataFrame(
        [(i, t0 + dt.timedelta(hours=h)) for i, h in enumerate([5, 3, 8, 1, 9])],
        "pos long, val timestamp",
    )
    ref = {r.pos: r.ref for r in ts.withColumn("ref", F.min("val").over(wcum)).collect()}
    got = {
        r.pos: r["cum_min"]
        for r in windows.cum_agg_global(ts, "min", num_partitions=3).collect()
    }
    assert got == ref

    from decimal import Decimal

    dec = spark.createDataFrame(
        [(0, Decimal("1.23"))], "pos long, val decimal(19,2)"
    )
    with pytest.raises(ValueError, match="integral or float"):
        windows.cum_agg_global(dec, "sum")

    with pytest.raises(ValueError, match="unknown kernel"):
        windows.recurrences(df, {"x": "emma:12"})

    # out_col collision: replace like withColumn; reserved cols raise
    two = df.withColumn("ema", F.lit(0.0))
    out = windows.ema(two, 5, val_col="val", order_col="pos").collect()
    assert any(r["ema"] != 0.0 for r in out)
    with pytest.raises(ValueError, match="collide"):
        windows.ema(df, 5, val_col="val", out_col="val", order_col="pos")

    withnull = spark.createDataFrame(
        [(0, 1.0), (1, None), (2, 2.0)], "pos long, val double"
    )
    with pytest.raises(Exception, match="dense series"):
        windows.ema_global(withnull, 5, val_col="val", pos_col="pos",
                           num_partitions=2).collect()

    # NaT keys: both NULL-keyed rows are ONE series
    kdf = spark.createDataFrame(
        [(None, 0, 10.0), (None, 1, 20.0), (t0, 0, 1.0), (t0, 1, 2.0)],
        "k timestamp, pos long, val double",
    )
    out = windows.ema(
        kdf, 1, val_col="val", partition_by=["k"], order_col="pos"
    ).collect()
    by = {(r["k"], r["pos"]): r["ema"] for r in out}
    # n=1 -> alpha=1 -> ema == val; the BUG would restart nothing here,
    # so use n=3 to expose restarts: second NULL-keyed row must blend
    out = windows.ema(
        kdf, 3, val_col="val", partition_by=["k"], order_col="pos"
    ).collect()
    by = {(r["k"], r["pos"]): r["ema"] for r in out}
    assert by[(None, 1)] == pytest.approx(10.0 + 0.5 * (20.0 - 10.0))
    assert by[(t0, 1)] == pytest.approx(1.0 + 0.5 * (2.0 - 1.0))
