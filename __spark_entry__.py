"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship GIsInStrain-scan isomorph at
sf0.001; ``queries()``/``oracle_sql()`` expose every registered
operator from SURVEY.md section 2 with its DuckDB oracle.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pangenomesasgraphdatabases_spark.queries.registry import all_queries  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from pangenomesasgraphdatabases_spark.queries.flagship import gi_scan_flagship

    return gi_scan_flagship(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md section 2, in
    registration order: ``gi_scan_flagship`` first."""
    return {name: q.fn for name, q in all_queries().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for every query."""
    return {name: q.oracle for name, q in all_queries().items()}
