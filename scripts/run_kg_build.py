"""spark-submit entrypoint: build the KG from a pages corpus.

Usage:
  spark-submit --master local[N] --py-files pkg.zip \
      scripts/run_kg_build.py --n-works 200 --out /tmp/kg_out
      [--pages /path/to/pages_parquet] [--report-pr]

With --pages, reads an existing pages parquet table; otherwise
generates the deterministic synthetic corpus (seed 42).
Writes node/edge/triple tables under --out and prints a one-line
JSON summary (counts + optional P/R vs the plain-Python oracle).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-works", type=int, default=200)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--pages", default=None)
    ap.add_argument("--out", required=True)
    ap.add_argument("--report-pr", action="store_true")
    ap.add_argument("--num-partitions", type=int, default=32)
    ap.add_argument("--count-only", action="store_true",
                    help="skip table writes; time build + triples count "
                         "(scaling-bench mode)")
    ap.add_argument("--warmup-pages", type=int, default=0,
                    help="run the identical pipeline on this many pages "
                         "first, untimed: JVM JIT + whole-stage-codegen "
                         "warmup so the timed pass measures steady-state "
                         "throughput (the regime a long job on a real "
                         "cluster runs in; a fresh local JVM front-loads "
                         "~30s of C2-compile/codegen cost onto the first "
                         "few jobs regardless of data size)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("kg-build").getOrCreate()

    from openalex_neo4j_spark.corpus import build_world, pages_dataframe
    from openalex_neo4j_spark.materialize import write_graph
    from openalex_neo4j_spark.pipeline import build_graph

    t0 = time.time()
    world = None
    if args.pages:
        pages = spark.read.parquet(args.pages)
    else:
        world = build_world(args.n_works, seed=args.seed)
        pages = pages_dataframe(spark, world, num_partitions=args.num_partitions)

    if args.count_only:
        if args.warmup_pages > 0:
            # repartition: limit() collapses to one partition, which
            # would serialize the whole warmup on a single core
            ncores = spark.sparkContext.defaultParallelism
            build_graph(pages.limit(args.warmup_pages)
                        .repartition(ncores).persist()).triples.count()
            # drop the warmup's checkpoint blocks before the timed
            # pass: python GC releases the DataFrame refs, JVM GC lets
            # the ContextCleaner unpersist the orphaned RDD blocks
            import gc
            gc.collect()
            spark.sparkContext._jvm.System.gc()
            time.sleep(2)

        t0 = time.time()
        n_triples = build_graph(pages).triples.count()
        wall = time.time() - t0
        print(json.dumps({
            "triples": n_triples,
            "pipeline_sec": round(wall, 2),
            "triples_per_sec": round(n_triples / wall, 1),
        }))
        return 0

    g = build_graph(pages)
    counts = write_graph(g, args.out)
    wall = time.time() - t0

    summary = {
        "out": args.out,
        "wall_sec": round(wall, 2),
        "triples": counts["triples"],
        "edges": counts["edges"],
        "nodes": {k: v for k, v in counts.items()
                  if k not in ("triples", "edges")},
        "triples_per_sec": round(counts["triples"] / wall, 1),
    }
    if args.report_pr and world is not None:
        from openalex_neo4j_spark.oracle import oracle_triples, precision_recall

        pred = {(r.subj, r.pred, r.obj)
                for r in spark.read.parquet(f"{args.out}/triples").collect()}
        p, r = precision_recall(pred, oracle_triples(world))
        summary["precision"] = round(p, 4)
        summary["recall"] = round(r, 4)
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
