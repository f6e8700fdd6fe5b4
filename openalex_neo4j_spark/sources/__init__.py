"""Input sources: the pages corpus as a batch table scan."""

from openalex_neo4j_spark.sources.pages import read_pages  # noqa: F401
