"""Driver contract for the spark-graft builder (PySpark target).

- ``entry(spark)``: flagship end-to-end run at sf0.001 — build the inverted
  index from the documents table (adapted to the transcript input shape) and
  answer a BM25 top-k query through the real engine (varbyte postings,
  block-max metadata, df-asc term scheduling).
- ``queries()`` / ``oracle_sql()``: one entry per implemented operator from
  SURVEY.md §2 and per engine search or mutation path; oracle SQL strings
  are generated from the same constants as the Spark pipelines
  (search_engine_spark/entry_queries.py) so value-hashes match bit-exactly.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, str(Path(__file__).resolve().parent))

from search_engine_spark import entry_queries as EQ  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return EQ.q_engine_bm25_topk(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(EQ.QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(EQ.ORACLES)
