"""Query-seeded subgraph import: the reference's flagship flow.

``OpenAlexImporter.import_from_query`` (importer.py:36-98) is: search
works matching a query (S1), then BFS-expand ``expand_depth`` times
over referenced entities with a visited-set (J1 anti-join,
importer.py:126-131), then import nodes and relationships. Re-expressed
over the pages corpus:

1. **Seed** — TF-IDF fulltext score pages' mention titles+abstracts
   against the query; top ``limit`` clusters are the seed works
   (replaces the OpenAlex search API scan, openalex_client.py:29-64).
2. **Expand x depth** — frontier = referenced DOIs of collected works
   that are NOT yet collected (left_anti = the visited-set, J1);
   resolve each frontier DOI against the corpus mentions (left_semi =
   the batched ID lookup, S2 openalex_client.py:66-311); add to the
   collected set. Each round is two joins — the BFS loop shape is
   identical, but a "fetch" is a co-partitioned join, not an HTTP GET.
3. **Build** — run node/edge/triple assembly on the collected subset
   only.

The expansion operates on *linked mentions* (post entity resolution),
so alias pages expand correctly through their canonical work.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from openalex_neo4j_spark import ids
from openalex_neo4j_spark.pipeline import (GraphTables, build_graph_from_linked,
                                           link_pages)
from openalex_neo4j_spark.search import build_fulltext_index, fulltext_topk
from openalex_neo4j_spark.session import iter_ckpt, stage_parquet


def seed_work_keys(linked: DataFrame, query: str, limit: int) -> DataFrame:
    """Top-``limit`` work clusters by TF-IDF fulltext score (S1 analog;
    page size/early-out disappear — Catalyst limit pushdown)."""
    docs = (
        linked.groupBy("work_key")
        .agg(
            F.min("title").alias("title"),
            F.min("abstract").alias("abstract"),
        )
        .select(
            F.col("work_key").alias("id"),
            F.concat_ws(" ", "title", F.coalesce("abstract", F.lit(""))
                        ).alias("_ft"),
        )
    )
    idx = build_fulltext_index(docs, "id", "_ft")
    return fulltext_topk(idx, query, limit).select(
        F.col("id").alias("work_key"))


def expand_frontier(linked: DataFrame, collected: DataFrame,
                    depth: int) -> DataFrame:
    """BFS over CITES references with a visited-set anti-join.

    ``collected``: (work_key) frame. Returns the expanded (work_key)
    set after ``depth`` rounds. Each round:
    refs of collected -> anti-join visited (J1) -> semi-join corpus
    (S2) -> union into collected. Rounds stop early when the frontier
    empties (the reference's loop always runs ``depth`` times but
    fetches nothing new — importer.py:69-71; we keep the early-out,
    results are identical).
    """
    refs = iter_ckpt(linked.select(
        "work_key", F.explode("referenced_dois").alias("ref")
    ).select("work_key", ids.work_id_col("ref").alias("ref_key")
             ).filter(F.col("ref_key").isNotNull()))
    known_keys = iter_ckpt(linked.select("work_key").distinct())

    collected = iter_ckpt(collected)
    for _ in range(depth):
        frontier = iter_ckpt(
            refs.join(collected, "work_key", "left_semi")
            .select(F.col("ref_key").alias("work_key"))
            .distinct()
            # visited-set: never refetch (J1, importer.py:126-131)
            .join(collected, "work_key", "left_anti")
            # existence: only refs that resolve in the corpus (S2)
            .join(known_keys, "work_key", "left_semi")
        )
        if frontier.isEmpty():
            break
        collected = iter_ckpt(collected.union(frontier))
    return collected


def import_from_query(
    pages: DataFrame,
    query: str,
    limit: int = 10,
    expand_depth: int = 1,
    skip_abstracts: bool = False,
) -> GraphTables:
    """Full reference-parity import flow (importer.py:36-98), over
    ``build_graph``'s own stages."""
    linked = link_pages(pages)
    seeds = seed_work_keys(linked, query, limit)
    collected = expand_frontier(linked, seeds, expand_depth)
    subset = stage_parquet(linked.join(collected, "work_key", "left_semi"),
                           "subset")
    return build_graph_from_linked(subset, skip_abstracts=skip_abstracts)
