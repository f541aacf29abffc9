"""SQL-facing query surface: `cs_*` callable from plain ``spark.sql``.

The reference engine's ENTIRE user interface is SQL — imcs--1.1.sql
registers ~150 `cs_*` functions plus operator sugar (`+ * << >> |||
+* //`, imcs--1.1.sql:564-906) over its `timeseries` datatype, and the
test batteries (sql/operators.sql, sql/spec.sql) drive everything
through them. In Spark a series is just a DataFrame column, so the
Spark-first translation is:

- **elementwise** `cs_*` → Catalyst-inlined SQL scalar UDFs
  (``CREATE OR REPLACE TEMPORARY FUNCTION name(args) RETURNS t RETURN
  expr``). The body is substituted into the caller's plan during
  analysis, so whole-stage codegen sees the raw expression — zero
  call overhead, full pushdown/pruning through the function. No
  Python in the loop.
- **aggregates with a Spark SQL builtin** → documented name mapping
  (:data:`AGGREGATE_BUILTINS`); registering a wrapper is impossible
  (SQL scalar UDFs cannot contain aggregates) and pointless — the
  builtin IS the operator.
- **aggregates without a builtin** (`cs_prd` sign-aware product,
  `cs_wsum`/`cs_wavg` weighted forms) → Arrow-batched pandas UDAFs
  registered under their `cs_` names, usable in ``GROUP BY`` SQL.
  These move each group's column batches through Arrow once —
  the slow path, kept ONLY for surface parity; the Column-factory
  equivalents (functions/aggregates.py) stay pure JVM expressions
  and are what `queries()` uses on the hot paths.
- **operator sugar** — Spark SQL already has the arithmetic/bitwise
  operators; positional sugar (`<<`, `>>`, `|||`) is the DataFrame
  API's job (operators/positional.py) and has no SQL-function analog
  by design.
- **tables** → :func:`register_views` publishes an Engine's TsTables
  (and any plain DataFrames) as temp views, completing the "switch
  your SQL client to Spark" story.

Semantics pinned to the Python surface (functions/elementwise.py):
`cs_log` is ln (C log(), not PG log10), `cs_wday` is 0=Sunday
(reference j2day, imcs.c:5301-5305), `cs_week` is the Sunday-aligned
epoch-week since 2000-01-01 with C-truncating division
(imcs.c:5311-5314), money is cent-scaled DECIMAL(19,2)
(imcs.c:2064-2071).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import SparkSession
from pyspark.sql.functions import pandas_udf

# name -> (arg signature, return type, body expression). Bodies are
# plain Spark SQL; they must stay semantically identical to the
# Column factories in functions/elementwise.py (tests compare them).
SCALAR_FUNCTIONS: dict[str, tuple[str, str, str]] = {
    # conditional / pairwise (imcs.c:3209-3222, func.c elementwise)
    "cs_iif": ("c BOOLEAN, a DOUBLE, b DOUBLE", "DOUBLE",
               "CASE WHEN c THEN a ELSE b END"),
    "cs_maxof": ("a DOUBLE, b DOUBLE", "DOUBLE", "greatest(a, b)"),
    "cs_minof": ("a DOUBLE, b DOUBLE", "DOUBLE", "least(a, b)"),
    "cs_neg": ("a DOUBLE", "DOUBLE", "-a"),
    "cs_abs": ("a DOUBLE", "DOUBLE", "abs(a)"),
    "cs_isnan": ("a DOUBLE", "BOOLEAN", "isnan(a)"),
    # math (imcs.c:5420-5466); cs_log is ln
    "cs_sin": ("a DOUBLE", "DOUBLE", "sin(a)"),
    "cs_cos": ("a DOUBLE", "DOUBLE", "cos(a)"),
    "cs_tan": ("a DOUBLE", "DOUBLE", "tan(a)"),
    "cs_asin": ("a DOUBLE", "DOUBLE", "asin(a)"),
    "cs_acos": ("a DOUBLE", "DOUBLE", "acos(a)"),
    "cs_atan": ("a DOUBLE", "DOUBLE", "atan(a)"),
    "cs_exp": ("a DOUBLE", "DOUBLE", "exp(a)"),
    "cs_log": ("a DOUBLE", "DOUBLE", "ln(a)"),
    "cs_sqrt": ("a DOUBLE", "DOUBLE", "sqrt(a)"),
    "cs_ceil": ("a DOUBLE", "BIGINT", "ceil(a)"),
    "cs_floor": ("a DOUBLE", "BIGINT", "floor(a)"),
    # strings (func.c:366-412; imcs.c:3298-3374)
    "cs_cat": ("a STRING, b STRING", "STRING", "concat(a, b)"),
    "cs_add_char": ("a STRING, ch STRING", "STRING", "concat(a, ch)"),
    "cs_like": ("s STRING, p STRING", "BOOLEAN", "s LIKE p"),
    "cs_ilike": ("s STRING, p STRING", "BOOLEAN", "s ILIKE p"),
    # date parts (imcs.c:5280-5419); cs_wday 0=Sunday, cs_week
    # epoch-week with C-truncating division toward zero
    "cs_year": ("t TIMESTAMP", "INT", "year(t)"),
    "cs_month": ("t TIMESTAMP", "INT", "month(t)"),
    "cs_mday": ("t TIMESTAMP", "INT", "day(t)"),
    "cs_wday": ("t TIMESTAMP", "INT", "dayofweek(t) - 1"),
    "cs_quarter": ("t TIMESTAMP", "INT", "quarter(t)"),
    "cs_hour": ("t TIMESTAMP", "INT", "hour(t)"),
    "cs_minute": ("t TIMESTAMP", "INT", "minute(t)"),
    "cs_second": ("t TIMESTAMP", "INT", "second(t)"),
    "cs_week": (
        "t TIMESTAMP", "INT",
        "CAST(CASE WHEN (datediff(CAST(t AS DATE), DATE '2000-01-01')"
        "               - (dayofweek(t) - 1)) < 0"
        "     THEN -floor(-(datediff(CAST(t AS DATE), DATE '2000-01-01')"
        "                   - (dayofweek(t) - 1)) / 7)"
        "     ELSE floor((datediff(CAST(t AS DATE), DATE '2000-01-01')"
        "                 - (dayofweek(t) - 1)) / 7) END AS INT)",
    ),
    # money: cent-scaled DECIMAL(19,2) (imcs.c:2064-2071)
    "cs_to_money": ("a DOUBLE", "DECIMAL(19,2)", "CAST(a AS DECIMAL(19,2))"),
    "cs_money2cents": ("a DECIMAL(19,2)", "BIGINT",
                       "CAST(a * 100 AS BIGINT)"),
    "cs_cents2money": ("a BIGINT", "DECIMAL(19,2)",
                       "CAST(CAST(a AS DECIMAL(21,0)) / 100 AS DECIMAL(19,2))"),
}

# cs_* aggregates that ARE a Spark SQL builtin — use the right-hand
# name directly in SQL; nothing to register (and SQL scalar UDFs
# cannot wrap aggregates). Population variants per the reference
# (func.c:1475-1501).
AGGREGATE_BUILTINS: dict[str, str] = {
    "cs_count": "count",
    "cs_max": "max",
    "cs_min": "min",
    "cs_sum": "sum",
    "cs_avg": "avg",
    "cs_var": "var_pop",
    "cs_dev": "stddev_pop",
    "cs_median": "median",
    "cs_all": "bit_and",
    "cs_any": "bit_or",
    "cs_approxdc": "approx_count_distinct",
    "cs_corr": "corr",
    "cs_cov": "covar_pop",
}

# ---------------------------------------------------------------------------
# Series-level cs_* families (§2.5 window/group/grid, §2.6 sort/rank/
# quantile, §2.7 TS specials) → plain Spark SQL rewrites.
#
# The reference exposes ALL of these as SQL functions over its
# `timeseries` datatype (imcs--1.1.sql:564-906; batteries
# sql/windowagg.sql, sql/groupbyagg.sql, sql/gridagg.sql). In Spark a
# series is rows (pos, val[, sid]), so each family IS a standard
# window / GROUP BY expression — registering wrappers is impossible
# (SQL scalar UDFs cannot contain window functions or aggregates) and
# pointless: the rewrite below, pasted into any spark.sql() statement,
# is the operator. This table is the documented, TESTED mapping — a
# reference SQL user porting sql/windowagg.sql applies these
# one-liners verbatim:
#
# - tests/test_engine_introspection.py::test_series_sql_recipes pins a
#   sample of every family against the DataFrame operators
#   (operators/windows.py, grouping.py, sorting.py, timeseries.py);
# - the driver query `sql_surface` runs the cs_diff, cs_group_count
#   and cs_grid_avg rewrites through pure spark.sql() against the
#   DuckDB oracle (its diff_abs_sum / n_runs / grid_avg_sum legs).
#
# Placeholders: {v}=value column, {p}=pos (any total-order) column,
# {g}=run/group key column, {n}=window or grid size (an INT literal),
# {P}='PARTITION BY <series-id cols>' for per-series operation, or ''
# for one global series. <agg> ranges over sum/avg/max/min/count/
# var_pop/stddev_pop exactly as in the Column factories.
#
# At scale the same caveat as the DataFrame operators applies: an
# empty {P} on a window with ORDER BY is a single-partition sort —
# fine for one symbol's series, wrong for a 100 TB global series
# (route those through the operators' range-bucketed global paths,
# operators/windows.py:309,516).
SERIES_SQL_RECIPES: dict[str, str] = {
    # --- §2.5 moving-window aggregates (cs_window_*). The default
    #     recipe is the Spark-native partial-frame reading; the C
    #     engine's warm-up is a ZERO-INITIALIZED circular history
    #     (func.c:1632-1763: avg divides by n from the first element,
    #     min/max see the padding zeros) — use the *_ref recipes for
    #     bit-parity with expected/windowagg.out, or
    #     moving_agg(warmup='reference') in the DataFrame API.
    "cs_window_<agg>":
        "<agg>({v}) OVER ({P} ORDER BY {p} ROWS BETWEEN {n}-1 PRECEDING AND CURRENT ROW)",
    "cs_window_avg_ref":
        "SUM({v}) OVER ({P} ORDER BY {p} ROWS BETWEEN {n}-1 PRECEDING AND CURRENT ROW) / {n}",
    # each *_ref recipe is SELF-CONTAINED like every other entry (the
    # frame is inlined, not a named window): any consumer rendering
    # recipes uniformly gets valid SQL (round-12 ADVICE fix)
    "cs_window_min_ref":
        "CASE WHEN COUNT(*) OVER ({P} ORDER BY {p} ROWS BETWEEN {n}-1 PRECEDING AND CURRENT ROW) < {n} "
        "THEN LEAST(MIN({v}) OVER ({P} ORDER BY {p} ROWS BETWEEN {n}-1 PRECEDING AND CURRENT ROW), 0) "
        "ELSE MIN({v}) OVER ({P} ORDER BY {p} ROWS BETWEEN {n}-1 PRECEDING AND CURRENT ROW) END",
    "cs_window_max_ref":
        "CASE WHEN COUNT(*) OVER ({P} ORDER BY {p} ROWS BETWEEN {n}-1 PRECEDING AND CURRENT ROW) < {n} "
        "THEN GREATEST(MAX({v}) OVER ({P} ORDER BY {p} ROWS BETWEEN {n}-1 PRECEDING AND CURRENT ROW), 0) "
        "ELSE MAX({v}) OVER ({P} ORDER BY {p} ROWS BETWEEN {n}-1 PRECEDING AND CURRENT ROW) END",
    "cs_window_var_ref":
        "(SUM({v}*{v}) OVER ({P} ORDER BY {p} ROWS BETWEEN {n}-1 PRECEDING AND CURRENT ROW) "
        "- SUM({v}) OVER ({P} ORDER BY {p} ROWS BETWEEN {n}-1 PRECEDING AND CURRENT ROW) "
        "* SUM({v}) OVER ({P} ORDER BY {p} ROWS BETWEEN {n}-1 PRECEDING AND CURRENT ROW) / {n}) / {n}",
    "cs_window_dev_ref":
        "SQRT((SUM({v}*{v}) OVER ({P} ORDER BY {p} ROWS BETWEEN {n}-1 PRECEDING AND CURRENT ROW) "
        "- SUM({v}) OVER ({P} ORDER BY {p} ROWS BETWEEN {n}-1 PRECEDING AND CURRENT ROW) "
        "* SUM({v}) OVER ({P} ORDER BY {p} ROWS BETWEEN {n}-1 PRECEDING AND CURRENT ROW) / {n}) / {n})",
    # EMA/ATR are full-prefix recurrences (e_0=x_0; e_i depends on
    # e_{i-1}, func.c:1764-1800): expressible as a fold over the
    # prefix via the AGGREGATE HOF — O(n²) in SQL, so use this form
    # only for short series; operators/windows.ema/atr (applyInPandas,
    # linear) are the scale path, and the ema_atr driver oracle uses
    # the equivalent closed-form weighted sum.
    "cs_window_ema":
        "AGGREGATE(COLLECT_LIST({v}) OVER ({P} ORDER BY {p} ROWS UNBOUNDED PRECEDING), "
        "CAST(NULL AS DOUBLE), (acc, x) -> IF(acc IS NULL, x, acc + (x - acc) * 2.0 / ({n} + 1)))",
    "cs_window_atr":
        "AGGREGATE(COLLECT_LIST({v}) OVER ({P} ORDER BY {p} ROWS UNBOUNDED PRECEDING), "
        "CAST(NULL AS DOUBLE), (acc, x) -> IF(acc IS NULL, x, (acc * ({n} - 1) + x) / {n}))",
    # --- §2.5 cumulative aggregates (cs_cum_*)
    "cs_cum_<agg>":
        "<agg>({v}) OVER ({P} ORDER BY {p} ROWS UNBOUNDED PRECEDING)",
    # --- §2.5 run-group aggregates (cs_group_*): a run id that
    #     increments whenever the group key changes, then GROUP BY it
    # two steps — Spark rejects a window function nested inside another
    # window's argument, so the change flag comes from a subquery:
    "cs_group_rid":
        "SUM(chg) OVER ({P} ORDER BY {p})  -- chg = CASE WHEN {g} IS DISTINCT FROM "
        "LAG({g}) OVER ({P} ORDER BY {p}) THEN 1 ELSE 0 END, in a subquery",
    "cs_group_<agg>":
        "SELECT rid, FIRST({g}) AS {g}, <agg>({v}) FROM (... cs_group_rid AS rid ...) GROUP BY rid",
    # --- §2.5 windowed-run aggregates (cs_win_group_*): same rid,
    #     aggregate repeated onto each element of its run
    "cs_win_group_<agg>":
        "<agg>({v}) OVER (PARTITION BY rid)  -- rid from cs_group_rid",
    # --- §2.5 grid aggregates (cs_grid_*): tumbling positional buckets
    "cs_grid_<agg>":
        "SELECT FLOOR({p} / {n}) AS pos, <agg>({v}) FROM t GROUP BY FLOOR({p} / {n})",
    # --- §2.5 hash aggregates (cs_hash_*): true GROUP BY; compound keys
    #     are just more columns (no cs_cat packing needed)
    "cs_hash_<agg>": "SELECT {g}, <agg>({v}) FROM t GROUP BY {g}",
    "cs_hash_dup_count":
        "SELECT {g}, COUNT(*) FROM (SELECT {g}, {v} FROM t GROUP BY {g}, {v} "
        "HAVING COUNT(*) >= {n}) GROUP BY {g}",
    "cs_histogram":
        "SELECT FLOOR(({v} - {low}) / {width}) AS bucket, COUNT(*) FROM t "
        "WHERE {v} >= {low} AND {v} < {high} GROUP BY 1",
    # --- §2.6 sort / rank / quantile / top-N
    "cs_sort": "SELECT {v} FROM t ORDER BY {v}",
    "cs_sort_pos": "SELECT {p} FROM t ORDER BY {v}, {p}",
    # ties share the MIN rank, ascending (sorting.py:113 — but note the
    # window form serializes one series per task; sorting.rank's
    # two-phase min-rank join is the skew-safe scale path)
    "cs_rank": "RANK() OVER ({P} ORDER BY {v} ASC)",
    "cs_dense_rank": "DENSE_RANK() OVER ({P} ORDER BY {v} ASC)",
    # the reference selects ORDER STATISTICS arr[TRUNC(cnt*i/q)]
    # (func.c:3579-3581), not interpolated percentiles — use
    # operators/sorting.quantile for bit-parity; the ANSI
    # near-equivalents below differ at the boundaries:
    "cs_quantile": "PERCENTILE_CONT({q}) WITHIN GROUP (ORDER BY {v})  -- or APPROX_PERCENTILE({v}, {q}) at scale; exact ref semantics: operators/sorting.quantile",
    "cs_top_max": "SELECT {v} FROM t ORDER BY {v} DESC LIMIT {n}",
    "cs_top_min": "SELECT {v} FROM t ORDER BY {v} ASC LIMIT {n}",
    "cs_top_max_pos": "SELECT {p} FROM t ORDER BY {v} DESC LIMIT {n}",
    # --- §2.7 TS specials
    "cs_diff": "COALESCE({v} - LAG({v}) OVER ({P} ORDER BY {p}), 0.0)",
    # two steps (no nested windows): s = SIGN({v} - LAG({v}) OVER
    # ({P} ORDER BY {p})) computed in a subquery, then the plateau
    # carry is a last-non-zero over the prefix:
    "cs_trend":
        "CAST(COALESCE(LAST(NULLIF(s, 0), TRUE) OVER ({P} ORDER BY {p} "
        "ROWS UNBOUNDED PRECEDING), 0) AS TINYINT)  -- s from a subquery",
    "cs_norm": "{v} / SQRT(SUM({v} * {v}) OVER ({P}))",
    # cross/extrema return POSITION LISTS (data-dependent length) —
    # multi-step window chains, not one-liners; use
    # operators/timeseries.cross/extrema (their full SQL equivalents
    # are the diff_trend / cross_extrema driver oracles).
    "cs_cross": "-- see operators/timeseries.cross; oracle: queries.py cross_extrema",
    "cs_extrema": "-- see operators/timeseries.extrema; oracle: queries.py cross_extrema",
}


def register_sql(spark: SparkSession) -> None:
    """Register the whole cs_* SQL surface on this session. Idempotent
    (CREATE OR REPLACE / re-register). Scalar functions inline into
    the caller's plan; the four pandas UDAFs are the only Python in
    the surface."""
    for name, (args, ret, body) in SCALAR_FUNCTIONS.items():
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY FUNCTION {name}({args}) "
            f"RETURNS {ret} RETURN {body}"
        )

    # --- aggregate UDAFs without builtins -------------------------------
    # All four UDAFs accumulate with math.fsum (exactly-rounded and
    # therefore ORDER-INDEPENDENT): Arrow delivers group rows in
    # partition order, which Spark does not define, while the DuckDB
    # oracle SUMs sequentially in scan order — numpy's pairwise sum
    # added a third ordering on top. fsum removes every self-inflicted
    # ordering term; the residual boundary risk (true value within an
    # ulp of a .5e-6 rounding edge vs the oracle's sequential fold) is
    # the accepted class noted on the wgeo leg.
    #
    # Edge semantics stay IEEE, not Python (second review pass): plain
    # math.fsum/math.exp and float division RAISE on intermediate
    # overflow, exp overflow and 0.0 denominators where the previous
    # numpy forms returned ±inf/nan — a crash-class regression on the
    # SQL surface. _fsum falls back to np.sum's inf on overflow, exp
    # saturates to inf, and division goes through np.float64 (nan/±inf,
    # never ZeroDivisionError).
    def _fsum(a) -> float:
        import math

        try:
            return math.fsum(a)
        except (OverflowError, ValueError):
            # OverflowError: |partial| > DBL_MAX — IEEE answer is ±inf.
            # ValueError: fsum("-inf + inf") on mixed infinities (a zero
            # value with positive weight alongside an inf term in
            # wsum/wgeomean products) — IEEE answer is nan; np.sum
            # yields both.
            import numpy as np

            return float(np.sum(a))

    @pandas_udf("double")
    def _cs_prd(v: pd.Series) -> float:
        # sign-aware log-sum, matching functions/aggregates.py:prd
        # (func.c:1458-1466): 0 if any zero, sign = parity of negatives
        import math

        import numpy as np

        x = v.to_numpy(dtype="float64")
        x = x[~pd.isna(v).to_numpy()]
        if x.size == 0:
            return None
        if (x == 0).any():
            return 0.0
        sign = -1.0 if int((x < 0).sum()) % 2 else 1.0
        try:
            e = math.exp(_fsum(np.log(np.abs(x))))
        except OverflowError:  # product magnitude > DBL_MAX
            e = float("inf")
        return float(sign * e)

    @pandas_udf("double")
    def _cs_wsum(w: pd.Series, v: pd.Series) -> float:
        prod = w.to_numpy(dtype="float64") * v.to_numpy(dtype="float64")
        mask = ~(pd.isna(w) | pd.isna(v)).to_numpy()
        if not mask.any():
            return None
        return float(_fsum(prod[mask]))

    @pandas_udf("double")
    def _cs_wavg(w: pd.Series, v: pd.Series) -> float:
        import numpy as np

        wa = w.to_numpy(dtype="float64")
        va = v.to_numpy(dtype="float64")
        mask = ~(pd.isna(w) | pd.isna(v)).to_numpy()
        if not mask.any():
            return None
        with np.errstate(divide="ignore", invalid="ignore"):
            return float(
                np.float64(_fsum(wa[mask] * va[mask]))
                / np.float64(_fsum(wa[mask]))
            )

    @pandas_udf("double")
    def _cs_wgeomean(v: pd.Series, w: pd.Series) -> float:
        # weighted geometric mean exp(Σ w·ln v / Σ w) — the §2.9 UDAF
        # the reference cannot express at all (its extensibility story
        # is "write a C operator", SURVEY §2.9); SQL engines express it
        # only through the exp/ln identity the oracle uses.
        # Sums via math.fsum (round-10 ADVICE): exactly-rounded and
        # therefore ORDER-INDEPENDENT, where numpy's pairwise sum and
        # the oracle's sequential SUM could disagree in the last ulp —
        # the residual boundary risk is the shared-with-wavg/prd class
        # (true value within 1 ulp of a .5e-6 rounding edge), now with
        # no self-inflicted ordering term on top
        import math

        import numpy as np

        va = v.to_numpy(dtype="float64")
        wa = w.to_numpy(dtype="float64")
        mask = ~(pd.isna(v) | pd.isna(w)).to_numpy()
        if not mask.any():
            return None
        va, wa = va[mask], wa[mask]
        with np.errstate(divide="ignore", invalid="ignore"):
            ex = np.float64(_fsum(np.log(va) * wa)) / np.float64(_fsum(wa))
        try:
            return float(math.exp(ex))
        except OverflowError:  # finite exponent > ln(DBL_MAX)
            return float("inf")

    spark.udf.register("cs_prd", _cs_prd)
    spark.udf.register("cs_wsum", _cs_wsum)
    spark.udf.register("cs_wavg", _cs_wavg)
    spark.udf.register("cs_wgeomean", _cs_wgeomean)


def register_views(spark: SparkSession, engine=None, **frames) -> None:
    """Publish an Engine's TsTables (and/or keyword DataFrames) as
    temp views so pure-SQL clients can query them — the Spark analog
    of the reference's `Quote_get()` timeseries accessors being
    reachable from any SQL session."""
    if engine is not None:
        for name, t in engine.tables.items():
            t.df().createOrReplaceTempView(name)
    for name, df in frames.items():
        df.createOrReplaceTempView(name)
