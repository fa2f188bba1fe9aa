"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

All real logic lives in ``lsh_search_go_spark.gated``: every entry pairs a
library operator (SURVEY.md §2) with a bit-identical DuckDB mirror of the same
hash arithmetic (poly31 / MinHash / SimHash over BIGINT mod 2^31-1).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from lsh_search_go_spark import gated  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: LSH-bucketed, exactly-verified near-duplicate pairs on
    the sf0.001 documents table (MinHash bands → candidate join → exact
    Jaccard ≥ threshold)."""
    return gated.query_map()["minhash_dup_pairs"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return gated.query_map()


def oracle_sql() -> dict[str, str]:
    return gated.oracle_sql_map()
