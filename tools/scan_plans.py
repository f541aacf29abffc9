"""Scale-audit: scan every registered query's physical plan for
single-partition bottlenecks.

A `Window.orderBy` without partition keys (or any sort forced global)
plans as `Exchange SinglePartition` followed by Sort/Window — the one
shape that cannot scale past one executor core. Two-phase aggregates
legitimately end in a SinglePartition exchange of tiny PARTIAL states
(one output row), so the audit flags only plans where a SinglePartition
exchange feeds a Sort or Window over row-level data.

Bounded literal-frame queries (spec/transform parity vectors, a few
dozen rows by construction) are allow-listed — a single partition IS
the right plan for them.

Usage: python tools/scan_plans.py [sf_dir]
Exit code 1 if an unexpected query has a flagged plan.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# bounded-by-construction queries where one partition is correct
ALLOWED = {
    "literal_ops",
    # literal-vector composites: every series is a handful of elements
    # by construction (cs_parse/seq literals), so a single partition IS
    # the right plan; the table-backed legs (store round trip) don't
    # sort/window.
    "series_ops",
    "join_concat_store",
    # pure-SQL surface-parity leg (round 9): its run-group rewrite is
    # the documented SHORT-SERIES SQL form (a global run id needs a
    # global order — SERIES_SQL_RECIPES warns exactly this); the scale
    # twin is grouping.run_id with partition_by, driver-checked by
    # run_group_agg.
    "sql_surface",
}


def flagged(plan: str) -> bool:
    """True when an Exchange SinglePartition feeds a Sort or Window
    (reads the physical-plan tree textually: the exchange's child
    relationship is encoded by indentation above it)."""
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "Exchange SinglePartition" not in ln:
            continue
        # walk upward to the nearest less-indented consumer
        indent = len(ln) - len(ln.lstrip(" +-:"))
        for j in range(i - 1, -1, -1):
            up = lines[j]
            up_indent = len(up) - len(up.lstrip(" +-:"))
            if up.strip() and up_indent < indent:
                if re.search(r"\b(Window|Sort)\b", up):
                    return True
                break
    return False


def main() -> int:
    from pyspark.sql import SparkSession

    import __spark_entry__ as entry_mod

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    bad = []
    for name, fn in entry_mod.queries().items():
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # noqa: BLE001
            print(f"ERR  {name}: {str(e)[:100]}")
            bad.append(name)
            continue
        hit = flagged(plan)
        status = "FLAG" if hit else "ok"
        if hit and name not in ALLOWED:
            bad.append(name)
        if hit:
            print(f"{status:4s} {name}{' (allowed)' if name in ALLOWED else ''}")

    # Second pass (round 9): a flag at small SF is not necessarily a
    # scale bug — the global-pos machinery is size-adaptive TWICE over:
    # series.is_small_plan picks a single-partition window for tiny
    # Catalyst size estimates, and even on the distributed path the
    # range_bucket_expr probe degenerates to ONE bucket at audit scale
    # because AQE coalesces the tiny range shuffle to one partition
    # (the constant bucket id is then optimizer-folded out of the
    # window spec, leaving the same single-partition shape). Re-plan
    # the flagged queries with BOTH size adaptions forced off —
    # _SMALL_INPUT_BYTES = 0 and AQE partition coalescing disabled,
    # bounds memo cleared so the first pass's degenerate probe isn't
    # reused. If the single-partition Sort/Window disappears, the flag
    # was size-adaptivity doing its job and the DISTRIBUTED path is
    # proven to engage at scale. Only queries still flagged with both
    # gates forced open are real scale bugs.
    if bad:
        from imcs_spark import series

        prev = series._SMALL_INPUT_BYTES
        prev_coalesce = spark.conf.get(
            "spark.sql.adaptive.coalescePartitions.enabled", "true"
        )
        series._SMALL_INPUT_BYTES = 0
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        series._BOUNDS_CACHE.clear()
        # drop build-once artifact DataFrames too: they memoize plans
        # built under the first pass's gates (e.g. quantile's shared
        # exact-boundaries frame), so reusing them would re-flag the
        # old shape no matter what this pass forces. Unpersist any
        # cached frames the artifacts hold first — clear() alone would
        # drop the only references while their RDD blocks stay cached
        # for the rest of the audit session.
        from pyspark.sql import DataFrame as _DF

        from registry import queries as _queries

        for _v in _queries._ARTIFACTS.values():
            for _item in (_v if isinstance(_v, (tuple, list)) else (_v,)):
                if isinstance(_item, _DF):
                    try:
                        _item.unpersist()
                    except Exception:  # noqa: BLE001 - best-effort GC
                        pass
        _queries._ARTIFACTS.clear()
        try:
            truly_bad = []
            for name in bad:
                try:
                    df = entry_mod.queries()[name](spark, sf_dir)
                    plan = df._jdf.queryExecution().executedPlan().toString()
                except Exception as e:  # noqa: BLE001
                    print(f"ERR  {name} (forced-distributed): {str(e)[:100]}")
                    truly_bad.append(name)
                    continue
                if flagged(plan):
                    truly_bad.append(name)
                else:
                    print(f"ok   {name} (size-gated fallback; distributed path verified)")
        finally:
            series._SMALL_INPUT_BYTES = prev
            spark.conf.set(
                "spark.sql.adaptive.coalescePartitions.enabled", prev_coalesce
            )
            series._BOUNDS_CACHE.clear()
        bad = truly_bad

    if bad:
        print(f"\nUNEXPECTED single-partition Sort/Window in: {', '.join(bad)}")
        return 1
    print("\nall registered queries free of unexpected single-partition Sort/Window stages")
    return 0


if __name__ == "__main__":
    sys.exit(main())
