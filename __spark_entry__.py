"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  -> flagship query (TPC-H Q1) on sf0.001
queries()     -> every implemented operator from SURVEY.md §2 (plus the
                 training-data ops) as (spark, sf_dir) -> DataFrame,
                 rotated so the driver's ~50-row correctness cap
                 verifies every never-checked or changed-this-round
                 query first (queries._SWEEP_CHANGED + sweep_order)
oracle_sql()  -> matching DuckDB SQL for EVERY query (since round 5
                 even kitchen_sink_actions: clock pinned via set_time's
                 `now`, hostname embedded as a literal)

Implementation lives in file_d_spark/queries.py.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from file_d_spark.queries import flagship

    return flagship(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from file_d_spark.queries import QUERIES, sweep_order

    return {name: QUERIES[name] for name in sweep_order()}


def oracle_sql() -> dict[str, str]:
    from file_d_spark.queries import ORACLES

    return dict(ORACLES)
