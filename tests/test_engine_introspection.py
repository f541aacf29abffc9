"""Engine.stats() (cs_used_memory / cs_profile parity, reference
imcs.c:5275-5279, 5716-5768) and the money load-boundary conversion
(reference imcs.c:2064-2071: doubles enter as dollars, stored as
cent-scaled int64; here DecimalType(19,2))."""

from decimal import Decimal

from pyspark.sql import functions as F

from imcs_spark.functions import elementwise as E
from imcs_spark.sources import parse
from imcs_spark.table import Engine


def test_engine_stats_reports_cached_memory(spark, sf_dir):
    eng = Engine(spark)
    t = eng.create("events", f"{sf_dir}/events.parquet", "ts", "user_id")
    df = t.df().persist()
    df.count()
    try:
        st = eng.stats()
        assert st["used_memory_bytes"] > 0
        assert any(c["cached_partitions"] > 0 for c in st["cached_rdds"])
        assert st["tables"]["events"]["ts_col"] == "ts"
        assert st["tables"]["events"]["id_col"] == "user_id"
        assert st["tables"]["events"]["columns"] == len(df.columns)
        assert st["codegen"]["compiles"] > 0
        assert st["codegen"]["configured_cache_max_entries"] == 2000  # session default
        # introspection compiles and runs nothing
        assert eng.stats()["codegen"]["compiles"] == st["codegen"]["compiles"]
    finally:
        df.unpersist()


def test_codegen_cache_holds_a_cycled_working_set(spark):
    """A session cycling more distinct generated classes than Spark's
    default cache holds (100, LRU) must not recompile them on the next
    cycle: the session default sizes the cache to the engine's working
    set. Each long literal is inlined into the generated code, so every
    statement is its own class."""
    eng = Engine(spark)
    stmts = [
        spark.range(0, 8, 1, 1).selectExpr(f"id * {i + 2} AS v")
        for i in range(150)
    ]

    def cycle():
        before = eng.stats()["codegen"]["compiles"]
        for df in stmts:
            df.collect()
        return eng.stats()["codegen"]["compiles"] - before

    assert cycle() > 100  # the working set really exceeds the old cache
    assert cycle() == 0


def test_money_load_conversion_golden(spark):
    # Golden vectors for the dollars<->cents boundary: the reference
    # multiplies by 100 and rounds-half-away on load (imcs_double2money).
    df = spark.createDataFrame(
        [(1.0,), (0.005,), (12.344,), (12.345,), (-3.125,)], "dollars double"
    )
    out = df.select(
        E.to_money("dollars").alias("m"),
        E.money_to_cents("dollars").alias("cents"),
    ).collect()
    got = [(r["m"], r["cents"]) for r in out]
    assert got == [
        (Decimal("1.00"), 100),
        (Decimal("0.01"), 1),  # HALF_UP at the cent boundary
        (Decimal("12.34"), 1234),
        (Decimal("12.35"), 1235),
        (Decimal("-3.13"), -313),
    ]
    back = df.select(
        E.cents_to_money(E.money_to_cents("dollars")).alias("m2")
    ).collect()
    assert [r["m2"] for r in back] == [
        Decimal("1.00"),
        Decimal("0.01"),
        Decimal("12.34"),
        Decimal("12.35"),
        Decimal("-3.13"),
    ]


def test_money_literal_parse(spark):
    # cs_parse money literals keep group separators and $ (reference
    # transform.sql money battery shapes).
    df = parse(spark, "money:{\"$1,000,000.50\", '2.25', 0.1}")
    vals = [r["val"] for r in df.orderBy("pos").collect()]
    assert vals == [Decimal("1000000.50"), Decimal("2.25"), Decimal("0.10")]


def test_concat_integer_series_ids(spark, sf_dir):
    # Regression: concat's id-order map used a hardcoded string schema,
    # which broke on integer series ids (driver query table_ops).
    from imcs_spark.table import Engine
    from pyspark.sql import functions as F

    eng = Engine(spark)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    t = eng.create("ev", ev, "ts", "user_id")
    ids = [r[0] for r in ev.select("user_id").distinct().limit(2).collect()]
    out = t.concat(ids).select("user_id").collect()
    seen = [r[0] for r in out]
    # id-sequence order preserved: all of ids[0]'s rows before ids[1]'s
    assert set(seen) == set(ids)
    first_block = seen[: seen.index(ids[1])] if ids[1] in seen else seen
    assert all(u == ids[0] for u in first_block)


def test_sql_surface_matches_column_factories(spark):
    """register_sql's SQL UDF bodies must stay semantically identical
    to the Column factories (functions/elementwise.py) — compare both
    surfaces over one probe frame, including the 0=Sunday wday shift,
    epoch-week C-truncating division, ln semantics of cs_log, and the
    money round-trip. Also pins that scalar cs_* INLINE (no
    python-udf nodes in the plan)."""
    import pyspark.sql.functions as F

    from imcs_spark.functions import elementwise as E
    from imcs_spark.sqlsurface import register_sql, register_views

    register_sql(spark)
    probe = spark.range(200).select(
        (F.col("id") - 100).cast("double").alias("x"),
        F.timestamp_seconds(F.col("id") * 86400 * 3 + 800_000_000).alias("t"),
        F.format_string("s%d", F.col("id")).alias("s"),
    )
    register_views(spark, probe_sql=probe)
    got = spark.sql("""
        SELECT cs_iif(x > 0.0D, x, cs_neg(x)) AS absx,
               cs_maxof(x, 1.0D) AS mx, cs_minof(x, 1.0D) AS mn,
               cs_log(cs_sqrt(cs_abs(x) + 1.0D)) AS lg,
               cs_wday(t) AS wd, cs_week(t) AS wk, cs_year(t) AS y,
               cs_cat(s, '!') AS cat, cs_ilike(s, 'S1%') AS il,
               cs_money2cents(cs_to_money(x)) AS cents
        FROM probe_sql
    """).orderBy("cat").collect()
    want = probe.select(
        E.iif(F.col("x") > 0, F.col("x"), E.neg("x")).alias("absx"),
        E.maxof("x", F.lit(1.0)).alias("mx"),
        E.minof("x", F.lit(1.0)).alias("mn"),
        E.log(E.sqrt(E.abs("x") + F.lit(1.0))).alias("lg"),
        E.wday("t").alias("wd"), E.week("t").alias("wk"),
        E.year("t").alias("y"),
        E.cat("s", F.lit("!")).alias("cat"),
        E.ilike("s", "S1%").alias("il"),
        E.money_to_cents(E.to_money("x")).alias("cents"),
    ).orderBy("cat").collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    plan = spark.sql(
        "SELECT cs_iif(x > 0.0D, cs_sin(x), cs_floor(x)) AS v FROM probe_sql"
    )._jdf.queryExecution().executedPlan().toString()
    assert "python" not in plan.lower(), plan  # inlined, not a PythonUDF

    # UDAF legs: cs_wavg == sum(w*v)/sum(w), cs_prd sign/zero rules
    wavg = spark.sql(
        "SELECT cs_wavg(CAST(id + 1 AS DOUBLE), CAST(id AS DOUBLE)) AS w "
        "FROM range(10)"
    ).first()["w"]
    assert abs(wavg - sum((i + 1) * i for i in range(10)) / sum(i + 1 for i in range(10))) < 1e-12
    prd = spark.sql(
        "SELECT cs_prd(CAST(id - 2 AS DOUBLE)) AS p FROM range(2)"
    ).first()["p"]
    assert prd == 2.0  # (-2) * (-1): even negatives -> positive product
    zero = spark.sql(
        "SELECT cs_prd(CAST(id AS DOUBLE)) AS p FROM range(3)"
    ).first()["p"]
    assert zero == 0.0


def test_profile_counts_operator_invocations(spark):
    """cs_profile(reset): plan-construction bumps per-operator
    counters; output is (command, count) rows + TOTAL, and reset=True
    zeroes them (reference imcs.c:5716-5768)."""
    from imcs_spark import profile as P
    from imcs_spark.operators import positional
    from imcs_spark.series import seq

    eng = Engine(spark)
    P.reset()
    s = seq(spark, [3.0, 1.0, 2.0])
    positional.reverse(s)
    positional.reverse(s)
    positional.head(s, 2)
    rows = dict(eng.profile())
    assert rows["reverse"] == 2
    assert rows["head"] == 1
    assert rows["seq"] >= 1
    assert rows["TOTAL"] == sum(v for k, v in rows.items() if k != "TOTAL")
    # reset drains
    eng.profile(reset=True)
    rows = dict(eng.profile())
    assert rows["TOTAL"] == 0


def test_format_series_round_trips_and_truncates(spark):
    """Text output 'type:{v1,v2,...}' (imcs.c:2654-2952): inverse of
    parse() for every element family; comma-carrying values quoted;
    ,... marker under the string budget."""
    from imcs_spark.sources import format_series

    cases = [
        "int4:{1,2,3}",
        "int8:{-9,0,12345678901}",
        "float8:{1.5,-2.25,0.0}",
        "bool:{t,f,t}",
        "text:{abc,def}",
        'money:{"$1,234.50",$3.99}',
    ]
    for lit in cases:
        s = parse(spark, lit)
        out = format_series(s)
        assert out == lit, (lit, out)
        # round-trip once more through parse
        assert sorted(map(str, parse(spark, out).collect())) == sorted(
            map(str, s.collect())
        )

    # negative money round-trips (format prints '$-1.00'; PG's own
    # '-$1.00' spelling parses identically — sign placement is the one
    # cosmetic divergence from the reference's locale printer)
    s = parse(spark, 'money:{-1.00,"-$1,234.50"}')
    out = format_series(s)
    assert out == 'money:{$-1.00,"$-1,234.50"}'
    assert sorted(map(str, parse(spark, out).collect())) == sorted(
        map(str, s.collect())
    )

    # truncation: budget too small for all elements -> ',...}' tail,
    # and the output still parses as a valid (shorter) literal
    s = parse(spark, "int4:{" + ",".join(str(i) for i in range(100)) + "}")
    out = format_series(s, limit=30)
    assert out.endswith(",...}")
    assert len(out) <= 30 + 5
    head = parse(spark, out.replace(",...", ""))
    vals = [r["val"] for r in head.orderBy("pos").collect()]
    assert vals == list(range(len(vals)))


def test_query_registry_within_driver_window():
    """The driver records only the FIRST 50 registry slots
    (COVERAGE.md): registration #51+ silently falls out of the
    CORRECTNESS hard signal — exactly what happened to udaf_wgeomean
    and pii_redact in round 8. Guard the cap, and that every
    registered query still carries an oracle."""
    from registry.queries import ORACLES, QUERIES

    assert len(QUERIES) <= 50, (
        f"{len(QUERIES)} registered queries — slots past 50 are "
        f"invisible to the driver's CORRECTNESS window; fold the new "
        f"check into an existing composite query instead"
    )
    assert set(ORACLES) == set(QUERIES)


def test_plan_cache_query_reruns_its_shuffle(spark):
    """A ``plan_cache`` query memoizes its built plan, not its
    execution: every call must hand out a Dataset whose collect runs
    the whole job. Collecting the memoized object twice would let the
    second collect skip the map stage, whose shuffle files Spark keeps
    per Dataset, so a timed repeat would measure only the reduce side."""
    from registry.queries import QUERIES, query

    from conftest import completed_tasks

    name = "_plan_cache_shuffle_probe"

    @query(name, plan_cache=True)
    def probe(spark, sf_dir):
        return (
            spark.range(0, 20000, 1, 4)
            .groupBy((F.col("id") % 7).alias("k"))
            .count()
        )

    try:
        runs = [
            completed_tasks(
                spark, lambda: QUERIES[name](spark, "plan-cache-probe").collect(),
                group=f"plan-cache-probe-{i}",
            )
            for i in range(2)
        ]
    finally:
        del QUERIES[name]
    assert runs[0] > 1, runs  # the map stage and the reduce side ran
    assert runs[1] == runs[0], runs


def test_coverage_query_citations_are_registered():
    """Every COVERAGE.md citation of the form ``query `name``` must
    name a LIVE registry entry — a future fold-out (like the round-8
    silent 50-slot overflow) must not leave a dangling coverage claim
    pointing at a query the driver no longer checks."""
    import os
    import re

    from registry.queries import QUERIES

    text = open(
        os.path.join(os.path.dirname(__file__), "..", "COVERAGE.md")
    ).read()
    cited = set(re.findall(r"quer(?:y|ies)\s+`([a-z0-9_]+)`", text))
    # composite-leg citations like "query `series_ops` ('prd' leg)"
    # resolve to the composite name itself, so plain name matching works
    stale = sorted(c for c in cited if c not in QUERIES)
    assert not stale, (
        f"COVERAGE.md cites unregistered queries: {stale} — the claim "
        f"is dangling (registered: {sorted(QUERIES)})"
    )


def _duckdb_views(sf_dir, *tables):
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def test_pii_redact_cross_engine(spark, sf_dir):
    """pii_redact_q (unregistered since round 9; formerly driver slot
    #52 — the driver-facing check is curate_profile's 'pii' legs,
    which unpivot this same aggregate) stays bit-identical to the
    staged DuckDB redaction oracle."""
    from registry.queries import _pii_oracle, pii_redact_q

    got = pii_redact_q(spark, sf_dir).first().asDict()
    con = _duckdb_views(sf_dir, "documents")
    cur = con.execute(_pii_oracle())
    cols = [d[0] for d in cur.description]
    want = dict(zip(cols, cur.fetchone()))
    assert got == want


def test_series_sql_recipes(spark):
    """SERIES_SQL_RECIPES (sqlsurface.py): every executable rewrite
    template must reproduce the DataFrame operator it documents —
    a reference SQL user porting sql/windowagg.sql / sql/groupbyagg.sql
    applies these one-liners verbatim, so they are pinned here against
    operators/windows.py, grouping.py, sorting.py, timeseries.py over
    a probe with plateaus, sign changes and two series partitions."""
    import pyspark.sql.functions as F

    from imcs_spark.operators import grouping, sorting, timeseries, windows
    from imcs_spark.sqlsurface import SERIES_SQL_RECIPES as R

    rows = []
    vals = [3.0, 3.0, -1.0, 4.0, 4.0, 4.0, -2.0, 0.0, 5.0, 1.0,
            1.0, -3.0, 2.0, 2.0, 6.0, -6.0, 7.0, 7.0, 0.0, 8.0]
    for sid in ("a", "b"):
        for i, v in enumerate(vals):
            vv = v if sid == "a" else -v + 0.5
            rows.append((sid, i, vv, int(abs(vv)) // 2))
    df = spark.createDataFrame(rows, "sid string, pos long, val double, g int")
    df.createOrReplaceTempView("recipe_probe")
    P = "PARTITION BY sid"

    def sql_col(expr):
        out = spark.sql(
            f"SELECT sid, pos, {expr} AS r FROM recipe_probe"
        ).orderBy("sid", "pos").collect()
        return [row["r"] for row in out]

    def op_col(odf, col):
        return [row[col] for row in odf.orderBy("sid", "pos").collect()]

    approx = lambda a, b: all(  # noqa: E731
        (x is None and y is None) or abs(x - y) < 1e-9 for x, y in zip(a, b)
    )

    # cs_window_avg / cs_cum_sum
    expr = R["cs_window_<agg>"].replace("<agg>", "AVG").format(v="val", p="pos", n=5, P=P)
    assert approx(sql_col(expr), op_col(windows.moving_agg(df, "avg", 5, partition_by=["sid"]), "window_avg"))
    expr = R["cs_cum_<agg>"].replace("<agg>", "SUM").format(v="val", p="pos", P=P)
    assert approx(sql_col(expr), op_col(windows.cum_agg(df, "sum", partition_by=["sid"]), "cum_sum"))

    # cs_window_*_ref: the reference zero-padded warm-up recipes
    # (round 11) vs moving_agg(warmup='reference'). Every recipe is
    # rendered VERBATIM — self-contained SQL, no hand-stripping or
    # named-window expansion (round-12 ADVICE: a uniform consumer must
    # get valid SQL from each entry).
    for ref_key, agg, col in (
        ("cs_window_avg_ref", "avg", "window_avg"),
        ("cs_window_min_ref", "min", "window_min"),
        ("cs_window_max_ref", "max", "window_max"),
        ("cs_window_var_ref", "var", "window_var"),
        ("cs_window_dev_ref", "dev", "window_dev"),
    ):
        expr = R[ref_key].format(v="val", p="pos", n=5, P=P)
        assert approx(
            sql_col(expr),
            op_col(
                windows.moving_agg(df, agg, 5, partition_by=["sid"], warmup="reference"),
                col,
            ),
        ), ref_key

    # cs_window_ema: the O(n²) AGGREGATE-fold form vs the linear
    # applyInPandas recurrence
    expr = R["cs_window_ema"].format(v="val", p="pos", n=4, P=P)
    assert approx(sql_col(expr), op_col(windows.ema(df, 4, partition_by=["sid"]), "ema"))

    # cs_group_sum via the documented two-step rid rewrite
    rid_sql = spark.sql(f"""
        WITH chg AS (
          SELECT sid, pos, val, g,
                 CASE WHEN g IS DISTINCT FROM LAG(g) OVER ({P} ORDER BY pos)
                      THEN 1 ELSE 0 END AS chg
          FROM recipe_probe
        ), rids AS (
          SELECT sid, pos, val, g,
                 {R["cs_group_rid"].split("  --")[0].format(p="pos", P=P)} AS rid
          FROM chg
        )
        SELECT sid, rid, FIRST(g) AS g, SUM(val) AS s
        FROM rids GROUP BY sid, rid
    """).orderBy("sid", "rid").collect()
    got = [(r["sid"], r["rid"] - 1, r["g"], r["s"]) for r in rid_sql]
    want_df = grouping.group_agg(df, "sum", "g", "val", partition_by=["sid"])
    want = [(r["sid"], r["pos"], r["g"], r["group_sum"])
            for r in want_df.orderBy("sid", "pos").collect()]
    assert got == want

    # cs_win_group_max: run aggregate repeated onto each element
    wg_sql = spark.sql(f"""
        WITH chg AS (
          SELECT sid, pos, val, g,
                 CASE WHEN g IS DISTINCT FROM LAG(g) OVER ({P} ORDER BY pos)
                      THEN 1 ELSE 0 END AS chg
          FROM recipe_probe
        ), rids AS (
          SELECT sid, pos, val, g, SUM(chg) OVER ({P} ORDER BY pos) AS rid FROM chg
        )
        SELECT sid, pos, {R["cs_win_group_<agg>"].split('--')[0].strip().replace('<agg>', 'MAX').format(v='val')
                          .replace('PARTITION BY rid', 'PARTITION BY sid, rid')} AS r
        FROM rids
    """).orderBy("sid", "pos").collect()
    assert approx(
        [r["r"] for r in wg_sql],
        op_col(grouping.win_group_agg(df, "max", "g", "val", partition_by=["sid"]), "win_group_max"),
    )

    # cs_grid_avg: tumbling 8-element buckets
    grid_sql = spark.sql(
        "SELECT sid, " + R["cs_grid_<agg>"].replace("<agg>", "AVG")
        .format(v="val", p="pos", n=8)
        .replace("SELECT ", "").replace("FROM t GROUP BY", "FROM recipe_probe GROUP BY sid,")
    ).orderBy("sid", "pos").collect()
    want_grid = grouping.grid_agg(df, "avg", 8, "val", partition_by=["sid"])
    want_rows = [(r["sid"], r["pos"], r["grid_avg"])
                 for r in want_grid.orderBy("sid", "pos").collect()]
    assert [(r["sid"], r["pos"], r[2]) for r in grid_sql] == want_rows

    # cs_rank (ties -> min rank, ascending, original order kept)
    expr = R["cs_rank"].format(v="val", P=P)
    assert sql_col(expr) == op_col(sorting.rank(df, "val", partition_by=["sid"]), "rank")

    # cs_diff / cs_trend / cs_norm
    expr = R["cs_diff"].format(v="val", p="pos", P=P)
    assert approx(sql_col(expr), op_col(timeseries.diff(df, "val", partition_by=["sid"]), "diff"))
    trend_sql = spark.sql(f"""
        WITH signs AS (
          SELECT sid, pos, SIGN(val - LAG(val) OVER ({P} ORDER BY pos)) AS s
          FROM recipe_probe
        )
        SELECT sid, pos, {R["cs_trend"].split('--')[0].strip().rstrip()
                          .format(p="pos", P=P)} AS r
        FROM signs
    """).orderBy("sid", "pos").collect()
    assert [r["r"] for r in trend_sql] == op_col(
        timeseries.trend(df, "val", partition_by=["sid"]), "trend"
    )
    expr = R["cs_norm"].format(v="val", P=P)
    assert approx(sql_col(expr), op_col(timeseries.norm(df, "val", partition_by=["sid"]), "norm"))

    # cs_top_max (single-series recipe)
    one = df.filter(F.col("sid") == "a").select("pos", "val")
    one.createOrReplaceTempView("t")
    top_sql = [r[0] for r in spark.sql(
        R["cs_top_max"].format(v="val", n=3)
    ).collect()]
    assert top_sql == [r["val"] for r in sorting.top_max(one, 3, "val").orderBy("pos").collect()]


def test_format_series_truncates_before_first_element(spark):
    """When even the first element cannot fit the string budget, the
    reference emits 'mnem:{,...}' (imcs.c:2941-2948) instead of
    overflowing the declared limit — so must format_series (round-9
    fix: the guard used to skip the first element, so one long value
    blew past the budget)."""
    from imcs_spark.sources import format_series

    s = parse(spark, "int8:{12345678901234567}")
    out = format_series(s, limit=8)
    assert out == "int8:{,...}"
    # a tiny limit over a multi-element series truncates to the marker
    s = parse(spark, "text:{abcdefghijklmnopqrstuvwxyz,b}")
    out = format_series(s, limit=10)
    assert out == "text:{,...}"
    # and the budget is respected for every emitted form
    assert len(out) <= 10 + 5


def test_udaf_ieee_edge_semantics(spark):
    """The fsum-accumulating UDAFs must keep IEEE edge semantics, not
    Python's raising ones (second round-10 review pass): an all-zero
    weight group divides to nan — not ZeroDivisionError; a product
    whose magnitude exceeds double range saturates to inf — not
    OverflowError; a weighted sum overflowing fsum's accumulator
    returns inf — not 'intermediate overflow in fsum'."""
    import math

    from imcs_spark.sqlsurface import register_sql

    register_sql(spark)
    df = spark.createDataFrame(
        [("z", 0.0, 5.0)] * 3                      # zero weights
        + [("p", 1.0, 1e4)] * 100                  # prd -> exp(~921) = inf
        + [("o", 1.0, 1e308), ("o", 1.0, 1e308)],  # wsum -> inf
        "g string, w double, v double",
    )
    df.createOrReplaceTempView("edge_t")
    rows = {
        r["g"]: r
        for r in spark.sql(
            """
        SELECT g, cs_wavg(w, v) AS wavg, cs_prd(v) AS prd,
               cs_wsum(w, v) AS wsum
        FROM edge_t GROUP BY g
    """
        ).collect()
    }
    # 0/0 -> nan, no crash; Arrow's pandas bridge surfaces a nan
    # return as SQL NULL (pandas' nan-is-null convention), which also
    # matches DuckDB's NULL for division by zero
    assert rows["z"]["wavg"] is None
    assert math.isinf(rows["p"]["prd"]) and rows["p"]["prd"] > 0
    assert math.isinf(rows["o"]["wsum"]) and rows["o"]["wsum"] > 0


def test_readme_warmup_porting_note():
    """VERDICT r11 item 7: the compat surface must say LOUDLY that
    moving_agg defaults to Spark partial-frame semantics and reference
    parity needs warmup='reference' — one README section naming the
    default difference, plus every _ref recipe it points to existing."""
    import os

    from imcs_spark.sqlsurface import SERIES_SQL_RECIPES

    readme = open(
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "README.md")
    ).read()
    assert "warmup='partial'" in readme
    assert 'warmup="reference"' in readme
    assert "zero-initialized circular history" in readme
    # the recipes the note points at exist and are self-contained
    # (formattable with the documented placeholders alone)
    for agg in ("avg", "min", "max", "var", "dev"):
        key = f"cs_window_{agg}_ref"
        assert key in readme or f"cs_window_{{avg,min,max,var,dev}}_ref" in readme
        sql = SERIES_SQL_RECIPES[key].format(v="v", p="p", n=5, P="")
        assert "{" not in sql and "--" not in sql, key
