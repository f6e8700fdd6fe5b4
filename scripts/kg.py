"""CLI parity with the reference's two subcommands (cli.py:32-334):

  python scripts/kg.py import --pages DIR --query "..." [--limit N]
      [--expand-depth D] [--skip-abstracts] --out DIR [--clear]
  python scripts/kg.py search --graph DIR --query "..." [--limit N]
      [--rrf-k K] [--vector-weight W] [--fulltext-weight W]

``import`` runs the query-seeded BFS import (importer.py:36-98 analog)
and prints the per-entity count report (A7, cli.py:159-181).
``search`` runs hybrid vector+fulltext+RRF retrieval over a built
graph and prints a results table (search.py:292-364 analog).
"""

from __future__ import annotations

import argparse
import shutil
import sys


def cmd_import(args) -> int:
    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("kg-import").getOrCreate()
    import os

    from openalex_neo4j_spark.import_query import import_from_query
    from openalex_neo4j_spark.materialize import (merge_graph, table_path,
                                                  write_graph)
    from openalex_neo4j_spark.sources.pages import read_pages

    if args.clear:
        # S5 (neo4j_client.py:350-358): full-graph delete
        shutil.rmtree(args.out, ignore_errors=True)
    pages = read_pages(spark, args.pages)
    g = import_from_query(pages, args.query, limit=args.limit,
                          expand_depth=args.expand_depth,
                          skip_abstracts=args.skip_abstracts)
    if os.path.isdir(table_path(args.out, "Work")):
        # reference re-import semantics: without --clear, a second
        # import MERGEs into the existing graph (cumulative), exactly
        # like Neo4j MERGE — nodes last-wins, edges set-union, derived
        # counts refreshed, triples rebuilt
        counts = merge_graph(g, args.out, with_search_indexes=True)
        print("Merge import complete (cumulative):")
    else:
        # index DDL at import time (reference importer step 5)
        counts = write_graph(g, args.out, with_search_indexes=True)
        print("Import complete:")
    for k in ("Work", "Author", "Institution", "Source", "Topic",
              "Publisher", "Funder"):
        print(f"  {k:<12} {counts.get(k, 0):>8} nodes")
    print(f"  {'edges':<12} {counts['edges']:>8}")
    print(f"  {'triples':<12} {counts['triples']:>8}")
    return 0


def _fmt(v, width):
    s = "" if v is None else str(v)
    return s[: width - 1] + "…" if len(s) > width else s.ljust(width)


def cmd_search(args) -> int:
    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("kg-search").getOrCreate()
    from openalex_neo4j_spark.materialize import read_graph
    from openalex_neo4j_spark.search import hybrid_search

    # the persisted import-time index (D2) — never rebuilt per query
    g = read_graph(spark, args.graph)
    index = g["index_fulltext"]
    if index is None:
        # pre-index graph dir: explicit ad-hoc fallback, loudly
        print("WARNING: no persisted fulltext index under "
              f"{args.graph}/index_fulltext — building ad hoc "
              "(full corpus scan per query; re-import with "
              "search indexes to fix)", file=sys.stderr)
    rows = hybrid_search(
        args.query, g, g["edges"], limit=args.limit, rrf_k=args.rrf_k,
        vector_weight=args.vector_weight,
        fulltext_weight=args.fulltext_weight, index=index,
        allow_adhoc_index=index is None,
    ).collect()
    # format_results_table analog (search.py:292-364): truncated
    # columns, rank + score + title + authors + year
    print(f"{'#':<3}{'score':<10}{'title':<50}{'authors':<40}{'year':<6}")
    print("-" * 109)
    for i, r in enumerate(rows, start=1):
        authors = ", ".join((r["authors"] or [])[:3])
        print(
            f"{i:<3}{r['score']:<10.5f}"
            f"{_fmt(r['title'], 50)}{_fmt(authors, 40)}"
            f"{_fmt(r['publication_year'], 6)}"
        )
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(prog="kg")
    sub = ap.add_subparsers(dest="cmd", required=True)

    imp = sub.add_parser("import")
    imp.add_argument("--pages", required=True)
    imp.add_argument("--query", required=True)
    imp.add_argument("--limit", type=int, default=10)
    imp.add_argument("--expand-depth", type=int, default=1)
    imp.add_argument("--skip-abstracts", action="store_true")
    imp.add_argument("--clear", action="store_true")
    imp.add_argument("--out", required=True)
    imp.set_defaults(fn=cmd_import)

    srch = sub.add_parser("search")
    srch.add_argument("--graph", required=True)
    srch.add_argument("--query", required=True)
    srch.add_argument("--limit", type=int, default=10)
    srch.add_argument("--rrf-k", type=int, default=60)
    srch.add_argument("--vector-weight", type=float, default=1.0)
    srch.add_argument("--fulltext-weight", type=float, default=1.0)
    srch.set_defaults(fn=cmd_search)

    args = ap.parse_args()
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
