"""Scale-path join machinery: bucketed storage (shuffle-free joins),
salted joins (skew), binned range joins (interval containment without
a nested-loop cross product).

These are the levers a 100 TB deployment actually pulls; the tests
assert both result equivalence against the naive formulation and the
physical-plan property each one exists for.
"""

import pytest
from pyspark.sql import functions as F

from imcs_spark.operators.joins import range_join, salted_join
from imcs_spark.table import Engine


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_bucketed_join_has_no_exchange(spark, tmp_path_factory):
    eng = Engine(spark)
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    a = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("va")
    )
    b = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("vb")
    )
    try:
        ta = eng.save_bucketed("t_bucket_a", a, ["k"], buckets=4)
        tb = eng.save_bucketed("t_bucket_b", b, ["k"], buckets=4)
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = ta.join(tb, "k").select("k", "va", "vb")
            plan = _plan(joined)
            assert "Exchange" not in plan, plan
            rows = joined.orderBy("k").collect()
            assert len(rows) == 1000
            assert rows[7]["va"] == 14 and rows[7]["vb"] == 21
            # groupBy on the bucket key must not shuffle either
            agg_plan = _plan(ta.groupBy("k").agg(F.sum("va")))
            assert "Exchange" not in agg_plan, agg_plan
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql("DROP TABLE IF EXISTS t_bucket_a")
        spark.sql("DROP TABLE IF EXISTS t_bucket_b")


@pytest.mark.parametrize("how", ["inner", "left", "left_semi", "left_anti"])
def test_salted_join_matches_plain(spark, how):
    # skewed left: 90% of rows share key 0
    left = spark.range(2000).select(
        F.when(F.col("id") % 10 < 9, F.lit(0)).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("lv"),
    )
    right = spark.range(0, 50, 3).select(
        F.col("id").alias("k"), (F.col("id") + 100).alias("rv")
    )
    got = salted_join(left, right, ["k"], how=how, salt=8)
    want = left.join(right, ["k"], how)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_salted_join_rejects_right_outer(spark):
    df = spark.range(3).select(F.col("id").alias("k"))
    with pytest.raises(ValueError):
        salted_join(df, df, ["k"], how="right")


@pytest.mark.parametrize("how", ["inner", "left_semi"])
def test_range_join_matches_naive(spark, how):
    pts = spark.range(500).select(
        F.col("id").alias("pid"), (F.col("id") * 0.9).alias("x")
    )
    iv = spark.range(40).select(
        F.col("id").alias("iid"),
        (F.col("id") * 11.0).alias("lo"),
        (F.col("id") * 11.0 + 17.0).alias("hi"),
    )
    got = range_join(pts, iv, "x", "lo", "hi", bin_width=10.0, how=how)
    cond = (pts["x"] >= iv["lo"]) & (pts["x"] <= iv["hi"])
    want = pts.join(iv, cond, how)
    assert sorted(map(tuple, got.select(*want.columns).collect())) == sorted(
        map(tuple, want.collect())
    )
    if how == "inner":
        # overlapping intervals: points matched by 2 intervals appear twice
        assert got.count() > 500 * 0.8


def test_range_join_is_not_nested_loop(spark):
    pts = spark.range(100).select((F.col("id") * 1.0).alias("x"))
    iv = spark.range(10).select(
        (F.col("id") * 10.0).alias("lo"), (F.col("id") * 10.0 + 5.0).alias("hi")
    )
    plan = _plan(range_join(pts, iv, "x", "lo", "hi", bin_width=10.0))
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan, plan


def test_global_asof_partition_carry(spark):
    """The GLOBAL (no by-keys) as-of path must not serialize the whole
    union through one window task: it range-partitions and stitches
    partition boundaries with an O(P) carry. Result equivalence is
    asserted against the keyed path with a constant key (identical
    semantics, independent machinery) for every direction/strict
    combination, and the plan's only SinglePartition exchange is the
    bounded P-row carry frame."""
    import random
    import re

    from imcs_spark import series as S
    from imcs_spark.operators import joins as J

    rng = random.Random(3)
    lts = sorted(rng.sample(range(0, 4000), 150))
    rts = sorted(rng.sample(range(0, 4000), 60))
    left = spark.createDataFrame(
        [(t, float(i)) for i, t in enumerate(lts)], "ts long, lv double"
    )
    right = spark.createDataFrame(
        [(t, float(t) * 2) for t in rts], "ts long, rv double"
    )
    # force the SCALABLE branch: this input's accurate (tiny) Catalyst
    # stats would otherwise take the single-task fast path, which is a
    # plain window with nothing to verify here
    small_prev = S._SMALL_INPUT_BYTES
    S._SMALL_INPUT_BYTES = -1
    try:
        for direction in ("backward", "forward", "nearest"):
            for strict in (False, True):
                g = J.asof_join(left, right, direction=direction, strict=strict)
                k = J.asof_join(
                    left.withColumn("k", F.lit(1)),
                    right.withColumn("k", F.lit(1)),
                    by=["k"], direction=direction, strict=strict,
                ).drop("k")
                assert sorted(tuple(r) for r in g.collect()) == sorted(
                    tuple(r) for r in k.collect()
                ), (direction, strict)
        # Plan shape with REAL range buckets: on this tiny input AQE
        # coalesces the probe to one partition (zero bounds -> the
        # bucket id folds to a constant and the window legitimately
        # runs in one task — correct and adaptive); disable coalescing
        # so the probe yields multiple buckets, the shape a large
        # input sees.
        prev = spark.conf.get(
            "spark.sql.adaptive.coalescePartitions.enabled", "true"
        )
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        try:
            # the equivalence loop above probed THIS union under
            # coalescing and memoized its (empty) cut list; drop it so
            # the re-probe sees the multi-bucket shape a large input has
            S.clear_bounds_cache()
            plan = _plan(J.asof_join(left, right))
        finally:
            spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", prev)
    finally:
        S._SMALL_INPUT_BYTES = small_prev
    # the main window must be partitioned by the bucket id, and every
    # SinglePartition exchange must feed a _pid-ordered window (the
    # bounded P-row carry frame), never the main data path
    assert re.search(r"windowspecdefinition\(_pid#\d+, _ts#", plan), plan
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "SinglePartition" in ln:
            ctx = "\n".join(lines[max(0, i - 3) : i])
            assert "_pid" in ctx or "_plast" in ctx, (
                f"unexpected SinglePartition:\n{ctx}"
            )


def test_asof_join_multi_one_pass_equivalence(spark):
    """asof_join_multi must equal running asof_join once per direction
    (same inputs, keyed and global), while sharing one union+window
    pass; incompatible direction mixes raise."""
    import random

    import pytest

    from imcs_spark.operators import joins as J

    rng = random.Random(7)
    left = spark.createDataFrame(
        [(rng.randrange(5), t, float(i)) for i, t in enumerate(sorted(rng.sample(range(0, 2000), 120)))],
        "k int, ts long, lv double",
    )
    right = spark.createDataFrame(
        [(rng.randrange(5), t, float(t)) for t in sorted(rng.sample(range(0, 2000), 50))],
        "k int, ts long, rv double",
    )
    for by in (["k"], None):
        multi = J.asof_join_multi(
            left, right, by=by, right_cols=["rv"],
            directions=("backward", "nearest"),
        )
        back = J.asof_join(left, right, by=by, right_cols=["rv"], direction="backward")
        near = J.asof_join(left, right, by=by, right_cols=["rv"], direction="nearest")
        cols = ["ts", "lv"]
        got = sorted(
            tuple(r) for r in multi.select(*cols, "rv_backward", "rv_nearest").collect()
        )
        b = {(r["ts"], r["lv"]): r["rv"] for r in back.collect()}
        n = {(r["ts"], r["lv"]): r["rv"] for r in near.collect()}
        want = sorted((ts, lv, b[(ts, lv)], n[(ts, lv)]) for (ts, lv) in b)
        assert got == want, by
    # forward+strict pairs with nearest; backward+forward never mixes
    J.asof_join_multi(
        left, right, by=["k"], right_cols=["rv"],
        directions=("forward", "nearest"), strict=True,
    ).collect()
    with pytest.raises(ValueError, match="tie orderings"):
        J.asof_join_multi(
            left, right, right_cols=["rv"], directions=("backward", "forward")
        )


def test_engine_create_dataframe_tscol_fail_fast(spark):
    """A DataFrame source with a missing ts_col must fail at create
    time, not as an analysis error inside the first query."""
    import pytest

    from imcs_spark.table import Engine

    eng = Engine(spark)
    df = spark.range(5).select(F.col("id").alias("t"), F.lit(1.0).alias("v"))
    with pytest.raises(ValueError, match="ts_col"):
        eng.create("bad", df, ts_col="not_there")


def test_asof_tolerance(spark):
    """tolerance rejects matches farther than the configured gap (the
    row becomes unmatched -> NULL/filler), for every direction, for
    numeric keys and for timestamps with an interval tolerance, and
    through asof_join_multi."""
    from imcs_spark.operators import joins as J

    left = spark.createDataFrame([(t,) for t in [1, 5, 9, 14]], "ts long")
    right = spark.createDataFrame(
        [(0, 10.0), (4, 40.0), (10, 100.0)], "ts long, rv double"
    )

    def got(d, **kw):
        rows = J.asof_join(
            left, right, right_cols=["rv"], direction=d, **kw
        ).collect()
        return [r["rv"] for r in sorted(rows, key=lambda r: r["ts"])]

    assert got("backward", tolerance=2) == [10.0, 40.0, None, None]
    assert got("forward", tolerance=1) == [None, None, 100.0, None]
    assert got("nearest", tolerance=1) == [10.0, 40.0, 100.0, None]
    assert got("nearest", tolerance=1, filler=-1.0) == [10.0, 40.0, 100.0, -1.0]
    # no tolerance: unchanged behavior
    assert got("nearest") == [10.0, 40.0, 100.0, 100.0]

    lt = spark.createDataFrame(
        [("2024-01-01 00:00:10",), ("2024-01-01 00:02:00",)], "ts string"
    ).select(F.col("ts").cast("timestamp").alias("ts"))
    rt = spark.createDataFrame(
        [("2024-01-01 00:00:00", 1.0), ("2024-01-01 00:03:00", 2.0)],
        "ts string, rv double",
    ).select(F.col("ts").cast("timestamp").alias("ts"), "rv")
    out = J.asof_join(
        lt, rt, right_cols=["rv"], direction="nearest",
        tolerance=F.expr("INTERVAL 30 SECONDS"),
    )
    vals = [r["rv"] for r in sorted(out.collect(), key=lambda r: r["ts"])]
    assert vals == [1.0, None]

    m = J.asof_join_multi(
        left, right, right_cols=["rv"], directions=("backward", "nearest"),
        tolerance=2,
    )
    rows = sorted(m.collect(), key=lambda r: r["ts"])
    assert [(r["rv_backward"], r["rv_nearest"]) for r in rows] == [
        (10.0, 10.0), (40.0, 40.0), (None, 100.0), (None, None)
    ]


def test_global_paths_pin_no_storage(spark):
    """The global as-of / stretch / spine / cum paths must leave NOTHING
    in the storage layer after their consuming action: bucket ids are a
    pure function of literal range bounds, so no persist() is needed to
    keep multi-job boundary agreement (the old design leaked one cached
    corpus-scale frame per call until session end)."""
    from imcs_spark import series as S
    from imcs_spark.operators import joins as J
    from imcs_spark.operators import sorting, windows
    from imcs_spark.series import zip_with_global_pos

    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()

    small_prev = S._SMALL_INPUT_BYTES
    S._SMALL_INPUT_BYTES = -1  # force the scalable branches
    try:
        left = spark.range(2000).select(
            (F.col("id") * 3).alias("ts"), (F.col("id") * 1.0).alias("lv")
        )
        right = spark.range(700).select(
            (F.col("id") * 7).alias("ts"), (F.col("id") * 2.0).alias("rv")
        )
        J.asof_join(left, right, direction="backward").count()
        J.asof_join(left, right, direction="nearest").count()
        s = spark.range(3000).select(
            F.col("id").alias("pos"), (F.col("id") % 13 * 1.0).alias("val")
        )
        zip_with_global_pos(
            s.select(F.col("val").alias("v")), ["v"], pos_col="p"
        ).count()
        windows.cum_agg_global(s, "sum").count()
        windows.moving_agg_global(s, "avg", 5).count()
        windows.ema_global(s, 10).count()
        sorting.sort(s).count()
    finally:
        S._SMALL_INPUT_BYTES = small_prev

    after = jsc.getPersistentRDDs().size()
    assert after == before, (
        f"global paths leaked {after - before} persisted frames"
    )


def test_global_big_path_values_match_small_path(spark):
    """Value equivalence of the scalable (bucketed-carry) global paths
    against the single-task fast path on the same data — the fast path
    is a plain window (trivially correct), so agreement proves the
    bucket/offset/carry machinery, including duplicate order keys that
    straddle bucket cuts."""
    from imcs_spark import series as S
    from imcs_spark.operators import windows

    s = spark.range(5000).select(
        F.col("id").alias("pos"),
        (F.col("id") % 97 * 1.0).alias("val"),
    )
    dup = spark.range(4000).select(
        (F.col("id") % 50 * 1.0).alias("v")  # heavy duplicate keys
    )

    def run_all():
        zp = S.zip_with_global_pos(dup, ["v"], pos_col="p")
        # with duplicate keys the pos is unique per row and ordered by v
        zrows = zp.orderBy("p").collect()
        cum = [r["cum_sum"] for r in
               windows.cum_agg_global(s, "sum").orderBy("pos").collect()]
        mov = [r["window_avg"] for r in
               windows.moving_agg_global(s, "avg", 7).orderBy("pos").collect()]
        ema = [r["ema"] for r in
               windows.ema_global(s, 9).orderBy("pos").collect()]
        return zrows, cum, mov, ema

    small_prev = S._SMALL_INPUT_BYTES
    S._SMALL_INPUT_BYTES = -1
    try:
        big = run_all()
    finally:
        S._SMALL_INPUT_BYTES = small_prev
    small = run_all()

    bz, bc, bm, be = big
    sz, sc, sm, se = small
    assert [r["p"] for r in bz] == [r["p"] for r in sz]
    assert [r["v"] for r in bz] == [r["v"] for r in sz]
    assert bc == sc
    assert bm == pytest.approx(sm)
    assert be == pytest.approx(se)


def test_range_bucket_bounds_memoized(spark):
    """A second range_bucket_expr over a semantically identical key
    projection must come from the session memo — no second probe job.
    Proven by mutating the cached cut list and observing the returned
    bucket count reflect the mutation (the memo, not a fresh probe,
    fed the expression)."""
    from imcs_spark import series as S

    S.clear_bounds_cache()
    df = spark.range(3000).select((F.col("id") % 777 * 1.0).alias("v"))
    _, n1 = S.range_bucket_expr(df, ["v"], num_partitions=8)
    assert len(S._BOUNDS_CACHE) == 1
    key = next(iter(S._BOUNDS_CACHE))
    # rebuild the same frame: same semantic hash -> cache hit
    df2 = spark.range(3000).select((F.col("id") % 777 * 1.0).alias("v"))
    S._BOUNDS_CACHE[key] = S._BOUNDS_CACHE[key][:1]  # truncate cuts
    _, n2 = S.range_bucket_expr(df2, ["v"], num_partitions=8)
    assert n2 == 2, (n1, n2)  # 1 remaining cut -> 2 buckets: memo was used
    assert len(S._BOUNDS_CACHE) == 1
    # stale (truncated) bounds must still place every row correctly:
    # positions stay exactly 0..n-1 in key order
    S._BOUNDS_CACHE[key] = S._BOUNDS_CACHE[key][:1]
    small_prev = S._SMALL_INPUT_BYTES
    S._SMALL_INPUT_BYTES = -1
    try:
        out = S.zip_with_global_pos(df2, ["v"], pos_col="p", num_partitions=8)
        rows = out.orderBy("p").collect()
    finally:
        S._SMALL_INPUT_BYTES = small_prev
        S.clear_bounds_cache()
    assert [r["p"] for r in rows] == list(range(3000))
    vs = [r["v"] for r in rows]
    assert vs == sorted(vs)


def test_global_pos_hot_key_tie_skew(spark):
    """99%-one-value key: duplicate cut points collapse, so the hot key
    degenerates to ONE bucket/task — documented tie-skew caveat. The
    result must still be a dense 0..n-1 position honoring key order
    (the hot block is contiguous), it just serializes that block."""
    from imcs_spark import series as S

    S.clear_bounds_cache()
    n = 4000
    df = spark.range(n).select(
        F.when(F.col("id") % 100 == 0, F.col("id") * 1.0)
        .otherwise(F.lit(5e9))
        .alias("v")
    )
    small_prev = S._SMALL_INPUT_BYTES
    S._SMALL_INPUT_BYTES = -1
    try:
        out, total = S.zip_with_global_pos_and_total(
            df, ["v"], pos_col="p", num_partitions=16
        )
        rows = out.orderBy("p").collect()
    finally:
        S._SMALL_INPUT_BYTES = small_prev
        S.clear_bounds_cache()
    assert total == n
    assert [r["p"] for r in rows] == list(range(n))
    vs = [r["v"] for r in rows]
    assert vs == sorted(vs)
    assert vs[40] == 5e9 and vs[-1] == 5e9  # hot block fills the tail


def test_asof_multi_output_name_collisions(spark):
    """asof_join_multi's output renaming must never silently overwrite:
    a left frame already carrying both '{c}_{d}' and '{c}_{d}_right'
    forces the numeric-suffix loop."""
    from imcs_spark.operators import joins as J

    left = spark.range(5).select(
        (F.col("id") * 10).alias("ts"),
        F.lit(1.0).alias("px_backward"),
        F.lit(2.0).alias("px_backward_right"),
    )
    right = spark.range(5).select(
        (F.col("id") * 10 + 1).alias("ts"), (F.col("id") * 1.0).alias("px")
    )
    out = J.asof_join_multi(left, right, on="ts", directions=["backward"])
    cols = out.columns
    assert cols.count("px_backward") == 1
    assert cols.count("px_backward_right") == 1
    assert "px_backward_right2" in cols
    rows = out.orderBy("ts").collect()
    # originals untouched, the joined value landed in the suffixed col
    assert all(r["px_backward"] == 1.0 and r["px_backward_right"] == 2.0 for r in rows)
    assert rows[1]["px_backward_right2"] == 0.0  # ts=10 <- right ts=1


def test_forward_carry_equals_following_frame(spark):
    """Round-12 regression pin: the reversed-order running last() that
    replaced first(ignorenulls) OVER (0, unboundedFollowing) — the
    O(n^2)-per-partition frame that hung the 60M soak — must be VALUE-
    identical to the quadratic form on adversarial small data: equal
    timestamps on both sides, null payload values (the ignorenulls
    trap), multi-key partitions, and leading/trailing right rows."""
    import random

    from pyspark.sql import Window

    from imcs_spark.operators.joins import _forward_carry

    rng = random.Random(31)
    rows = []
    for key in ("a", "b", "c"):
        for i in range(120):
            ts = rng.randint(0, 40)  # dense ties
            side = rng.choice([0, 1])  # 0 = left-ish null row, 1 = right
            payload = None if side == 0 or rng.random() < 0.3 else rng.randint(-5, 5)
            rows.append((key, ts, side, payload))
    df = spark.createDataFrame(rows, "k string, _ts int, _side int, _r_v int")
    df = df.withColumn(
        "_rrow",
        F.when(
            F.col("_side") == 1,
            F.struct(F.col("_ts").alias("_rts"), F.col("_r_v").alias("v")),
        ),
    )
    order_cols = ["_ts", "_side", "_r_v"]
    keys = ["k"]
    w = Window.partitionBy(*keys).orderBy(*order_cols)
    quad = F.first("_rrow", ignorenulls=True).over(
        w.rowsBetween(0, Window.unboundedFollowing)
    )
    out = (
        df.withColumn("fast", _forward_carry(keys, order_cols))
        .withColumn("quad", quad)
        .withColumn("same", F.col("fast").eqNullSafe(F.col("quad")))
    )
    bad = out.filter(~F.col("same")).count()
    assert bad == 0, out.filter(~F.col("same")).take(5)


def test_ivf_matrix_serve_has_no_pair_join(spark, sf_dir):
    """Round-12 plan pin: the IVF serve must be the
    scan-once shape — a Filter on cell over the cached index feeding
    mapInPandas — with NO join between the corpus-scale index and the
    probe set (the pair join materialized corpus x probes candidate
    rows and measured 36.5 s at 10M x 50 queries)."""
    from imcs_spark.pipeline import similarity as S

    corpus = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    idx = S.ivf_index(corpus, n_centroids=8, iters=2)
    queries = corpus.limit(3).selectExpr("vec_id AS query_id", "embedding")
    # brute_fallback_coverage=None: this pins the MASKED serve's plan;
    # at full union-of-probes coverage the default would (correctly)
    # serve the exact full-scan shape instead
    out = S.ivf_topk(
        corpus, queries, k=5, n_probe=3, index=idx,
        brute_fallback_coverage=None,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    pre_window = plan.split("Window")[-1]  # everything BELOW the final top-k window
    assert "MapInPandas" in plan
    for node in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin"):
        assert node not in pre_window, (node, pre_window[:1500])
    idx[1].unpersist()
