"""Driver contract for the spark-graft builder (PySpark target).

`queries()` maps operator-family names (SURVEY.md §2) to callables
(spark, sf_dir) -> DataFrame; `oracle_sql()` gives the DuckDB-equivalent
SQL over the pre-registered views. Column names/aliases match exactly on
both sides; float aggregates are rounded to 6 decimals on both sides so
order-insensitive value-hashes compare stably.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from registry.queries import QUERIES, ORACLES, flagship  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: TPC-H Q1 via the engine on sf0.001."""
    return flagship(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(ORACLES)
