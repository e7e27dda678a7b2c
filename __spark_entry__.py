"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query (exact cosine top-k vector search,
the reference's load-bearing path) on sf0.001. ``queries()`` /
``oracle_sql()`` expose the full operator registry from
``pdf_brain_spark.queries`` for the DuckDB correctness gate.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pdf_brain_spark.queries import get_oracles, get_queries  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: exact brute-force cosine top-k vector search with the
    reference's score semantics (score = 1 - cos_distance/2)."""
    from pdf_brain_spark.gates.core import vector_topk

    return vector_topk(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return get_queries()


def oracle_sql() -> dict[str, str]:
    return get_oracles()
