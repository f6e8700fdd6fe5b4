"""Explicit StructType constants — never inferred (determinism requirement).

The persisted graph model mirrors the reference's dataclass schemas
(models.py:23-41, 168-175, 203-211, 241-250, 285-291, 317-323,
349-355): 7 node types + 7 edge types, list[str] -> ArrayType(String),
embedding -> ArrayType(Float).
"""

from __future__ import annotations

from pyspark.sql import types as T

PAGES_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("warc_ts", T.TimestampType(), True),
    T.StructField("html", T.BinaryType(), True),
    T.StructField("text", T.StringType(), True),
    T.StructField("lang", T.StringType(), True),
])

# One mention record per page (analog of the parsed OpenAlex JSON the
# reference feeds to Work.from_openalex — models.py:43-140).
MENTION_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("title", T.StringType(), True),
    T.StructField("norm_title", T.StringType(), True),
    T.StructField("doi", T.StringType(), True),
    T.StructField("publication_year", T.IntegerType(), True),
    T.StructField("type", T.StringType(), True),
    T.StructField("abstract", T.StringType(), True),
    T.StructField("authors", T.ArrayType(T.StructType([
        T.StructField("display_name", T.StringType(), True),
        T.StructField("orcid", T.StringType(), True),
    ])), True),
    T.StructField("institutions", T.ArrayType(T.StructType([
        T.StructField("display_name", T.StringType(), True),
        T.StructField("ror", T.StringType(), True),
        T.StructField("country_code", T.StringType(), True),
    ])), True),
    T.StructField("venue", T.StringType(), True),
    T.StructField("issn", T.StringType(), True),
    T.StructField("publisher", T.StringType(), True),
    T.StructField("topics", T.ArrayType(T.StringType()), True),
    T.StructField("funders", T.ArrayType(T.StringType()), True),
    T.StructField("referenced_dois", T.ArrayType(T.StringType()), True),
])

LINEAGE_SCHEMA = T.StructType([
    T.StructField("stage", T.StringType(), False),
    T.StructField("partition_id", T.IntegerType(), False),
    T.StructField("input_rows", T.LongType(), True),
    T.StructField("output_rows", T.LongType(), True),
    T.StructField("wall_ms", T.LongType(), True),
    T.StructField("status", T.StringType(), False),
    T.StructField("run_id", T.StringType(), True),
])

EDGE_TYPES = [
    "AUTHORED",          # (Author)-[:AUTHORED]->(Work)       importer.py:238-251
    "AFFILIATED_WITH",   # (Author)-[:AFFILIATED_WITH]->(Institution) :253-273
    "PUBLISHED_IN",      # (Work)-[:PUBLISHED_IN]->(Source)   :275-287
    "CITES",             # (Work)-[:CITES]->(Work)            :289-302
    "HAS_TOPIC",         # (Work)-[:HAS_TOPIC]->(Topic)       :304-317
    "FUNDED_BY",         # (Work)-[:FUNDED_BY]->(Funder)      :319-332
    "PUBLISHED_BY",      # (Source)-[:PUBLISHED_BY]->(Publisher) :334-346
]
