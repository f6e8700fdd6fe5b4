"""Pages-table sources (the ``input_hint`` contract:
``pages(url, warc_ts, html, text, lang)``).

Replaces the reference's HTTP source pair (paginated search scan +
batched ID lookups — openalex_client.py:29-311, SURVEY §2.1 S1/S2)
with table scans: at web scale "fetch" is a partitioned read, the
frontier anti-join (J1) replaces the visited-set, and a left-semi join
against the corpus replaces remote batched GETs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from openalex_neo4j_spark.schemas import PAGES_SCHEMA


def read_pages(spark: SparkSession, path: str) -> DataFrame:
    """Batch source: partitioned parquet scan (Iceberg-shaped layout).

    Column pruning and predicate pushdown are verified by
    tests/test_plans.py — stages that don't need ``html`` never read
    the binary column.
    """
    return spark.read.schema(PAGES_SCHEMA).parquet(path)
