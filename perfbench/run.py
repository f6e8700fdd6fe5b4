#!/usr/bin/env python3
"""KG benchmark: import and re-import, with a traced search and
contract-query pass.

Usage (from the root of a checkout):

  python3 perfbench/run.py --workload reimport_delta --seed 1 \\
      --seconds 5 --trace 0

One run starts one Spark driver at ``local[<cores>]`` with shuffle
partitions = cores, makes its inputs from ``--seed`` (inputs.py) and
drives the program only through its public functions:

1. import: ``build_graph(pages, generate_embeddings=True)`` +
   ``write_graph(..., with_search_indexes=True)``, the first build in
   the fresh driver, as one ``scripts/kg.py import`` runs it;
2. re-import: ``build_graph(delta, generate_embeddings=True)`` +
   ``merge_graph(..., with_search_indexes=True)`` into the warehouse
   step 1 wrote.

With ``--trace 1`` the same steps run split at their layer boundaries,
each layer inside a span (spans.py), followed by

3. search: one client, a closed loop of ``hybrid_search`` calls over
   the merged warehouse for ``--seconds`` seconds (at least 2 queries),
   then the first query once more; after each call, the same query
   split at hybrid_search's layer boundaries for the per-layer metrics;
4. contract: one pass of the 10 ``bench.py`` headline queries over
   seeded tables, each timed over construction + ``collect()``;

and the per-layer metrics are printed instead of the end-to-end ones.
Every step is checked (README.md). Logs go to stderr. The last stdout
line is the result object; the line before it holds the run's context
(corpus tier, calibration control, triple hash, step walls).
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import nullcontext

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Both workloads import the same 1,000-work corpus of small pages, where
# an import is dominated by the fixed scheduling cost of about 180 Spark
# jobs, and then re-import into it. They differ in what is re-imported.
WORKLOADS = {
    # the same graph again (``kg.py import`` re-run on the same pages
    # without --clear): every key is touched and nothing changes, so
    # the merge must leave the triple set as it was
    "reimport_same": {"n_works": 1000, "filler": 400, "recrawl_files": 0,
                      "delta_works": 0},
    # a re-crawl of 3 of the 64 base page files (upserts) plus 100 new
    # works (inserts): a small delta, which an O(delta) merge would
    # rewrite little for
    "reimport_delta": {"n_works": 1000, "filler": 400, "recrawl_files": 3,
                       "delta_works": 100},
}
# set-up: one untimed pass (imports, allocator warm-up), then the median
# of the timed passes
SETUP_REPEATS = 5
# the program's default is 8 GB; a fixed 2 GB heap bounds the JVM on a
# host whose memory is shared, and keeps peak_rss_mb and the GC share of
# the walls from following G1's heap-growth policy
DRIVER_HEAP = "2g"
MIN_QUERIES = 2
SEARCH_LIMIT = 10
# the paper's quality bar for the triple set against the reference
MIN_PR = 0.95
# triple predicates a merge recomputes over both graphs, so a merged
# warehouse need not hold either graph's values of them
DERIVED = {"works_count", "cited_by_count"}
LABELS = ["Work", "Author", "Institution", "Source", "Topic", "Funder",
          "Publisher"]
HEADLINE = [
    "q_group_cross_product", "q_cosupplier_pairs", "q_token_explode",
    "q_minhash_sigs", "q_simhash", "q_ngram_jaccard", "q_embedding_topk",
    "q_rrf_fusion", "q_events_hourly", "q_user_event_seq",
]

END_TO_END_UNITS = {
    "setup_s": "s", "import_s": "s", "kg_triples_per_s": "1/s",
    "reimport_s": "s", "merge_rewrite_fraction": "ratio",
    "warehouse_bytes_per_triple": "B", "peak_rss_mb": "MB",
}
LAYER_UNITS = {
    "wall_s": "s", "task_s": "s", "busy_share": "ratio", "jobs": "count",
    "stages": "count", "shuffle_read_mb": "MB", "shuffle_write_mb": "MB",
    "failed_tasks": "count", "rows_out": "rows", "construct_s": "s",
}
BUILD_LAYERS = ["extract", "linking", "pipeline", "materialize.write",
                "materialize.merge"]
SEARCH_LAYERS = ["search.vector_topk", "search.fulltext_topk",
                 "search.rrf_fuse", "search.hydrate_works"]
BUILD_METRICS = ["wall_s", "task_s", "busy_share", "jobs", "stages",
                 "shuffle_read_mb", "shuffle_write_mb", "failed_tasks",
                 "rows_out"]
SEARCH_METRICS = BUILD_METRICS[:7]
CONTRACT_METRICS = ["construct_s", "wall_s", "task_s", "jobs", "stages"]
TRACE_UNITS = {"search.p50_s": "s", "driver_contract.suite_s": "s",
               "trace.import_wall_s": "s", "trace.readout_s": "s",
               "trace.layer_sum_share": "ratio"}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name -> unit, in report order."""
    names = {}
    for layers, metrics in ((BUILD_LAYERS, BUILD_METRICS),
                            (SEARCH_LAYERS, SEARCH_METRICS),
                            ([f"driver_contract.{q}" for q in HEADLINE],
                             CONTRACT_METRICS)):
        for layer in layers:
            for m in metrics:
                names[f"{layer}.{m}"] = LAYER_UNITS[m]
    names.update(TRACE_UNITS)
    return names


# --------------------------------------------------------------------------
# checks and measures outside Spark
# --------------------------------------------------------------------------

def triple_set_hash(triples) -> str:
    """Order-independent hash of a triple set: sum of per-triple
    64-bit digests modulo 2**64."""
    acc = 0
    for t in triples:
        d = hashlib.blake2b("\x1f".join(t).encode(), digest_size=8).digest()
        acc = (acc + int.from_bytes(d, "little")) % 2**64
    return f"{acc:016x}"


def structural(triples) -> set:
    """The triples a merge carries over as built: all but the derived
    counts."""
    return {t for t in triples if t[1] not in DERIVED}


def read_columns(path: str, cols: list[str]) -> list[list]:
    """Columns of a table the program wrote, read with pyarrow so that
    checks submit no Spark jobs."""
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=cols)
    return [t.column(c).to_pylist() for c in cols]


def _canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(round(v, 9))
    if hasattr(v, "isoformat"):
        return v.replace(tzinfo=None).isoformat()
    return str(v)


def rows_hash(cols: list[str], rows) -> str:
    """Order-insensitive value hash over name-sorted columns, in the
    canonical form of scripts/check_oracles.py (a copy, so that the
    benchmark's check does not change with that script)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x01".join(_canon(r[i]) for i in order) for r in rows)
    h = hashlib.md5()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return f"{sorted(cols)}|{len(lines)}|{h.hexdigest()}"


def contract_oracles(tables: str) -> dict[str, str]:
    """DuckDB result hash of each headline query's ORACLE_SQL."""
    import duckdb

    from openalex_neo4j_spark.driver_contract import ORACLE_SQL

    con = duckdb.connect()
    for t in ("lineitem", "documents", "embeddings", "events"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")
    out = {}
    for q in HEADLINE:
        res = con.execute(ORACLE_SQL[q])
        out[q] = rows_hash([d[0] for d in res.description], res.fetchall())
    con.close()
    return out


def warehouse_files(root: str) -> dict[str, tuple[int, int, int]]:
    """Data file path -> (size, inode, mtime_ns) under a warehouse."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                st = os.stat(p)
                out[p] = (st.st_size, st.st_ino, st.st_mtime_ns)
    return out


def _proc_stat(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as f:
        return f.read().rsplit(")", 1)[1].split()


def process_tree(pid: int) -> list[int]:
    parent = {}
    for p in os.listdir("/proc"):
        if p.isdigit():
            try:
                parent[int(p)] = int(_proc_stat(int(p))[1])
            except (OSError, IndexError, ValueError):
                continue
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(c for c, pp in parent.items() if pp == p)
    return out


def vm_hwm_mb(pids: list[int]) -> float:
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            continue
    return total / 1024


def _alive(pid: int) -> bool:
    try:
        return _proc_stat(pid)[0] != "Z"
    except OSError:
        return False


def stop_spark(spark, pids: list[int]) -> None:
    """Stop the session and the gateway JVM, then wait until every
    process of the JVM's tree has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    while any(_alive(p) for p in pids) and time.time() < deadline:
        time.sleep(0.1)
    for p in pids:
        if _alive(p):
            os.kill(p, 9)


def calibration(spark) -> float:
    """Pure-compute control (no I/O, no data dependence); its drift
    across runs separates host noise from code changes. The expression
    of bench_extra.calibration over an eighth of its rows."""
    t0 = time.perf_counter()
    spark.range(0, 2_500_000, 1, 32).selectExpr(
        "sum(pmod(xxhash64(md5(cast(id % 1000003 AS string))), 1000000000))"
    ).collect()
    return time.perf_counter() - t0


# --------------------------------------------------------------------------
# the steps
# --------------------------------------------------------------------------

class Run:
    def __init__(self, spark, inputs, work: str, tracer, seconds: float):
        self.spark = spark
        self.inp = inputs
        self.wh = os.path.join(work, "warehouse")
        self.tracer = tracer
        self.seconds = seconds
        self.attempted = 0
        self.failed = 0
        self.op_failed = False
        self.m: dict[str, float] = {}
        self.ctx: dict = {}
        self.timed_wall = 0.0  # sum of the timed steps, for the trace

    def begin(self) -> None:
        """Start one operation: it counts as attempted, and as failed
        once, however many of its checks fail."""
        self.attempted += 1
        self.op_failed = False

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            log(f"CHECK FAILED: {what}")
            self.failed += not self.op_failed
            self.op_failed = True

    def span(self, layer: str):
        if self.tracer is None:
            return nullcontext({})
        return self.tracer.span(layer)

    def distinct(self, step: str, table: str, cols: list[str],
                 reported: int) -> set:
        """The rows of a warehouse table as a set. The table must hold
        no row twice, and as many rows as the step reported."""
        rows = list(zip(*read_columns(f"{self.wh}/{table}", cols)))
        got = set(rows)
        self.check(len(got) == len(rows) == reported,
                   f"{step}: {table} has {len(rows)} rows, {len(got)} "
                   f"distinct, {reported} reported")
        return got

    def node_ids(self, step: str, counts: dict) -> dict[str, set]:
        return {lab: self.distinct(step, f"nodes_{lab.lower()}", ["id"],
                                   counts[lab]) for lab in LABELS}

    def triples(self, step: str, counts: dict) -> set:
        self.distinct(step, "edges", ["subj", "pred", "obj"], counts["edges"])
        return self.distinct(step, "triples", ["subj", "pred", "obj"],
                             counts["triples"])

    def build(self, pages_path: str):
        """``build_graph(pages, generate_embeddings=True)``; traced, the
        same calls forced at each layer boundary, as
        ``scripts/run_kg_build.py --count-only`` does."""
        from openalex_neo4j_spark.extract import mentions_from_pages
        from openalex_neo4j_spark.linking import link_mentions
        from openalex_neo4j_spark.pipeline import (build_graph,
                                                   build_graph_from_linked)
        from openalex_neo4j_spark.session import ckpt, stage_parquet

        pages = self.spark.read.parquet(pages_path)
        if self.tracer is None:
            return build_graph(pages, generate_embeddings=True)
        with self.span("extract") as s:
            mentions = ckpt(mentions_from_pages(pages), eager=False)
            s["rows_out"] = mentions.count()
        with self.span("linking") as s:
            linked = stage_parquet(link_mentions(mentions), "linked")
            s["rows_out"] = linked.count()
        with self.span("pipeline") as s:
            g = build_graph_from_linked(linked, generate_embeddings=True)
            s["rows_out"] = g.triples.count()
        return g

    def do_import(self) -> None:
        from openalex_neo4j_spark.materialize import write_graph
        from openalex_neo4j_spark.oracle import (oracle_triples,
                                                 precision_recall)

        self.begin()
        t0 = time.perf_counter()
        g = self.graph = self.build(self.inp.pages)
        with self.span("materialize.write") as s:
            counts = write_graph(g, self.wh, with_search_indexes=True)
            s["rows_out"] = counts["triples"]
        dt = time.perf_counter() - t0
        self.timed_wall += dt
        self.m["import_s"] = dt
        self.m["kg_triples_per_s"] = counts["triples"] / dt
        self.m["warehouse_bytes_per_triple"] = (
            sum(v[0] for v in warehouse_files(self.wh).values())
            / counts["triples"])
        self.ctx["import_counts"] = counts

        got = self.triples("import", counts)
        self.base_ids = self.node_ids("import", counts)
        self.oracle = oracle_triples(self.inp.world)
        p, r = precision_recall(got, self.oracle)
        # a pure function of the triple set: two runs with the same
        # seed must print the same hash
        self.ctx.update(triple_precision=p, triple_recall=r,
                        triple_hash=triple_set_hash(got))
        self.check(min(p, r) >= MIN_PR, f"import P/R {p:.4f}/{r:.4f}")

    def do_reimport(self) -> None:
        from openalex_neo4j_spark.materialize import merge_graph
        from openalex_neo4j_spark.oracle import oracle_triples

        before = warehouse_files(self.wh)
        self.begin()
        t0 = time.perf_counter()
        g = self.build(self.inp.delta) if self.inp.delta else self.graph
        with self.span("materialize.merge") as s:
            counts = merge_graph(g, self.wh, with_search_indexes=True)
            s["rows_out"] = counts["triples"]
        dt = time.perf_counter() - t0
        self.timed_wall += dt
        self.m["reimport_s"] = dt

        after = warehouse_files(self.wh)
        created = sum(v[0] for p, v in after.items() if before.get(p) != v)
        self.m["merge_rewrite_fraction"] = created / sum(
            v[0] for v in before.values())
        self.ctx["reimport_counts"] = counts
        merged_ids = self.node_ids("merge", counts)
        for lab in LABELS:
            lost = self.base_ids[lab] - merged_ids[lab]
            self.check(not lost, f"merge lost {len(lost)} {lab} ids")
        got = self.triples("merge", counts)
        if not self.inp.delta:
            self.check(counts["triples"] == self.ctx["import_counts"]["triples"]
                       and triple_set_hash(got) == self.ctx["triple_hash"],
                       "re-importing the same graph changed the triple set")
            return
        # the merged warehouse must hold what both graphs built: the
        # reference triples of the base corpus and of the delta's new
        # works, up to the paper's quality bar
        got = structural(got)
        base = structural(self.oracle)
        new = structural(oracle_triples(self.inp.delta_world)) - base
        r_base = len(got & base) / len(base)
        r_new = len(got & new) / len(new)
        self.ctx.update(merge_recall_base=r_base, merge_recall_delta=r_new,
                        merge_precision=len(got & (base | new)) / len(got))
        self.check(r_base >= MIN_PR, f"merge kept {r_base:.4f} of the base")
        self.check(r_new >= MIN_PR,
                   f"merge holds {r_new:.4f} of the delta's new triples")

    def do_search(self) -> None:
        from openalex_neo4j_spark.search import hybrid_search

        read = self.spark.read.parquet
        nodes = {lab: read(f"{self.wh}/nodes_{lab.lower()}") for lab in LABELS}
        edges = read(f"{self.wh}/edges")
        index = read(f"{self.wh}/index_fulltext")
        queries = self.inp.queries
        lat, first_ids = [], {}

        def timed(q, split=True):
            self.begin()
            try:
                t0 = time.perf_counter()
                rows = hybrid_search(q, nodes, edges, limit=SEARCH_LIMIT,
                                     index=index).collect()
                lat.append(time.perf_counter() - t0)
                if split:
                    t0 = time.perf_counter()
                    split = self._split_search(q, nodes, edges, index)
                    self.timed_wall += time.perf_counter() - t0
            except Exception:
                traceback.print_exc()
                self.check(False, f"search {q!r} raised")
                return
            ids = [r.id for r in rows]
            self.check(0 < len(ids) <= SEARCH_LIMIT,
                       f"search {q!r} returned {len(ids)} rows")
            self.check(first_ids.setdefault(q, ids) == ids,
                       f"search {q!r} ids not stable")
            self.check(split is False or split == ids,
                       f"search {q!r}: the split layers differ from "
                       "hybrid_search")

        t_end = time.perf_counter() + self.seconds
        i = 0
        while i < MIN_QUERIES or time.perf_counter() < t_end:
            timed(queries[i % len(queries)])
            i += 1
        # the repeat must return the same ids
        timed(queries[0], split=False)
        self.m["search.p50_s"] = statistics.median(lat) if lat else 0.0
        self.ctx["search_queries"] = len(lat)
        self.ctx["search_first_ids"] = first_ids.get(queries[0])

    def _split_search(self, q, nodes, edges, index) -> list[str]:
        """hybrid_search's composition forced apart: each layer collected
        at its boundary, in its own span, and handed on as a small local
        frame. Its walls are not hybrid_search's latency: the lazy plan
        of the real call may evaluate the legs again inside
        hydrate_works, which this split does once."""
        from pyspark.sql import functions as F

        from openalex_neo4j_spark.search import (OVERFETCH, RRF_K,
                                                 fulltext_topk, hydrate_works,
                                                 query_embedding, rrf_fuse,
                                                 vector_topk,
                                                 work_embedding_text)

        spark = self.spark
        leg = "id string, score double"
        with self.span("search.vector_topk"):
            v = vector_topk(work_embedding_text(nodes["Work"]),
                            query_embedding(q), SEARCH_LIMIT * OVERFETCH
                            ).collect()
        with self.span("search.fulltext_topk"):
            f = fulltext_topk(index, q, SEARCH_LIMIT * OVERFETCH).collect()
        with self.span("search.rrf_fuse"):
            fused = rrf_fuse(spark.createDataFrame(v, leg),
                             spark.createDataFrame(f, leg),
                             k=RRF_K).limit(SEARCH_LIMIT).collect()
        with self.span("search.hydrate_works"):
            rows = hydrate_works(spark.createDataFrame(fused, leg),
                                 nodes, edges).orderBy(
                F.col("score").desc(), F.col("id")).collect()
        return [r.id for r in rows]

    def do_contract(self, oracles: dict[str, str]) -> None:
        from openalex_neo4j_spark.driver_contract import QUERIES

        total = 0.0
        for q in HEADLINE:
            self.begin()
            with self.span(f"driver_contract.{q}"):
                t0 = time.perf_counter()
                try:
                    df = QUERIES[q](self.spark, self.inp.tables)
                    t1 = time.perf_counter()
                    got = rows_hash(df.columns, df.collect())
                except Exception:
                    traceback.print_exc()
                    self.check(False, f"{q} raised")
                    continue
                total += time.perf_counter() - t0
            self.tracer.layers[f"driver_contract.{q}"]["construct_s"] = t1 - t0
            self.check(got == oracles[q],
                       f"{q} differs from its DuckDB oracle")
        self.timed_wall += total
        self.m["driver_contract.suite_s"] = total


# --------------------------------------------------------------------------
# one run
# --------------------------------------------------------------------------

def prepare_env(work: str) -> None:
    """Keep every file the run writes inside ``work``."""
    for d in ("tmp", "local", "stage"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_GRAFT_STAGE_DIR"] = os.path.join(work, "stage")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_HEAP
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    for k in ("SPARK_GRAFT_CKPT_LEVEL", "SPARK_GRAFT_CHECKPOINT_DIR",
              "SPARK_WAREHOUSE_DIR", "SPARK_SHUFFLE_PARTITIONS"):
        os.environ.pop(k, None)


def start_spark(work: str, app: str, cores: int):
    from openalex_neo4j_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        app_name=app, master=f"local[{cores}]", shuffle_partitions=cores,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            # -UsePerfData: no hsperfdata file outside the work dir
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
            # the status store keeps every job and stage of the run
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def run(args, work: str) -> dict:
    from perfbench.inputs import make_inputs
    from perfbench.spans import Tracer

    wl = dict(WORKLOADS[args.workload])
    if args.toy:
        wl.update(n_works=60, delta_works=min(wl["delta_works"], 10))
    cores = len(os.sched_getaffinity(0))

    setup, inputs = [], None
    for i in range(SETUP_REPEATS + 1):
        if i:  # each repeat starts from the same interpreter heap
            shutil.rmtree(os.path.join(work, f"inputs{i - 1}"))
            inputs = None
        gc.collect()
        inputs = make_inputs(os.path.join(work, f"inputs{i}"), args.seed,
                             tables=bool(args.trace), **wl)
        if i:  # the first pass is the warm-up
            setup.append(inputs.gen_s)
    oracles = contract_oracles(inputs.tables) if args.trace else {}
    t0 = time.perf_counter()
    spark = start_spark(work, f"perfbench-{args.workload}", cores)
    spark_start = time.perf_counter() - t0
    pids = process_tree(spark.sparkContext._gateway.proc.pid)
    try:
        tracer = Tracer(spark, cores) if args.trace else None
        r = Run(spark, inputs, work, tracer, args.seconds)
        steps = {}
        todo = [("import", r.do_import), ("reimport", r.do_reimport)]
        if tracer is not None:
            todo += [("search", r.do_search),
                     ("contract", lambda: r.do_contract(oracles))]
        for name, step in todo:
            t0 = time.perf_counter()
            step()
            steps[name] = time.perf_counter() - t0
        r.m["setup_s"] = statistics.median(setup)
        pids = process_tree(spark.sparkContext._gateway.proc.pid)
        r.m["peak_rss_mb"] = vm_hwm_mb(pids)
        r.ctx.update(workload=args.workload, tier=inputs.tier, cores=cores,
                     driver_heap=DRIVER_HEAP, spark_start_s=spark_start,
                     setup_samples_s=setup, steps_s=steps,
                     calibration_s=calibration(spark))
    finally:
        stop_spark(spark, pids)

    if tracer is None:
        values, units = r.m, END_TO_END_UNITS
    else:
        units = per_layer_units()
        values = tracer.metrics()
        values.update((k, r.m[k]) for k in ("search.p50_s",
                                            "driver_contract.suite_s"))
        values["trace.import_wall_s"] = r.m["import_s"]
        values["trace.readout_s"] = tracer.readout_s
        values["trace.layer_sum_share"] = sum(
            rec["wall_s"] for rec in tracer.layers.values()) / r.timed_wall
        # a layer whose only operation failed before its span reports 0
        values = {k: values.get(k, 0.0) for k in units}
    print(json.dumps({"context": r.ctx}, default=str), flush=True)
    return {"correct": r.failed == 0, "attempted": r.attempted,
            "failed": r.failed,
            "metrics": {k: {"value": values[k], "unit": u}
                        for k, u in units.items()}}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--toy", action="store_true",
                    help="toy corpus sizes, for the smoke test")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "openalex_neo4j_spark",
                                       "__init__.py")):
        log("the program (openalex_neo4j_spark/) is not in this checkout")
        return 3
    sys.path.insert(0, ROOT)

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    prepare_env(work)
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work dir is still there
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
