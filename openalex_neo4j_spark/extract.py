"""Vectorized extraction stages: HTML->text and mention detection.

Both stages are Arrow-batched (pandas UDF / ``mapInPandas``) per the
input-hint contract — **no per-row Python UDFs**. The scalar logic
lives in :mod:`openalex_neo4j_spark.textnorm` and
:mod:`openalex_neo4j_spark.mention_parse`, shared with the plain-Python
oracle — that sharing is what makes per-url extraction byte-identical
(north-rule invariant; tested in tests/test_extract.py).

Scale notes:
- ``extract_text_col`` is a scalar pandas UDF: Arrow moves the binary
  column in batches; no shuffle, runs inside the scan stage.
- ``mentions_from_pages`` uses ``mapInPandas`` so one input page can
  yield 0 rows (degenerate pages filtered early — cheap at the source,
  analog of F1 models.py:46-48) and the wide ``html`` column is
  dropped as early as possible (column pruning: downstream stages
  never see the binary payload).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import StringType

from openalex_neo4j_spark.mention_parse import parse_mention
from openalex_neo4j_spark.schemas import MENTION_SCHEMA
from openalex_neo4j_spark.textnorm import extract_text


@F.pandas_udf(StringType())
def extract_text_col(html: pd.Series) -> pd.Series:
    """HTML binary -> deterministic visible text (byte-identical/url)."""
    return html.map(extract_text)


def pages_with_text(pages: DataFrame) -> DataFrame:
    """Fill the ``text`` column: recompute deterministically from html
    (the pre-extracted value may be null — FIXTURES.md §1)."""
    return pages.withColumn("text", extract_text_col(F.col("html")))


_MENTION_COLS = [f.name for f in MENTION_SCHEMA.fields]


def _mention_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = []
        for url, html in zip(pdf["url"], pdf["html"]):
            m = parse_mention(url, html)
            if m is not None:
                rows.append(m)
        if rows:
            out = pd.DataFrame(rows)
        else:
            out = pd.DataFrame({c: pd.Series(dtype=object) for c in _MENTION_COLS})
        yield out[_MENTION_COLS]


def mentions_from_pages(pages: DataFrame) -> DataFrame:
    """pages -> one structured mention row per parseable page.

    Select only (url, html) first so Parquet/Iceberg column pruning
    keeps ``text``/``lang`` out of this exchange entirely.
    """
    return pages.select("url", "html").mapInPandas(
        _mention_batches, schema=MENTION_SCHEMA
    )
