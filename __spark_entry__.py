"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship BM25 top-k search end-to-end on sf0.001;
``queries``/``oracle_sql`` expose every implemented operator from
SURVEY.md §2 plus the training-data-pipeline operators, checked against
DuckDB at sf0.01 by the driver.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: build the inverted index over sf0.001 documents and serve
    a top-10 BM25 query through the rank-exact f32 scorer."""
    from frankensearch_spark.driver_queries import documents_index
    from frankensearch_spark.operators.astexec import topk_ast
    from frankensearch_spark.operators.wand import serving_from_built

    idx = documents_index(spark, "/root/testdata/sf0.001")
    return topk_ast(serving_from_built(idx), "key order merge", k=10)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from frankensearch_spark.driver_queries import QUERIES

    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    from frankensearch_spark.driver_queries import ORACLE_SQL

    return dict(ORACLE_SQL)
