"""Physical-plan contract tests: pushdown, pruning, broadcast, and
Python-stage placement — the 100TB-readiness properties, pinned; plus
contract queries checked against their DuckDB oracles."""

import pytest
from pyspark.sql import functions as F

from openalex_neo4j_spark.driver_contract import (
    q_customers_with_orders,
    q_filter_orders,
    q_point_lookup,
    q_region_customer_counts,
    q_token_explode,
    q_top_orders,
)
from plan_audit import (
    explain_str,
    has_broadcast_join,
    has_pushed_filters,
    pruned_scan_columns,
    python_eval_count,
)

SF = "/root/testdata/sf0.01"
SF_TINY = SF.replace("sf0.01", "sf0.001")


def test_filter_reaches_parquet_scan(spark):
    df = q_filter_orders(spark, SF)
    assert has_pushed_filters(
        df, "IsNotNull(o_orderstatus)", "EqualTo(o_orderstatus,F)")


def test_point_lookup_pushdown(spark):
    assert has_pushed_filters(q_point_lookup(spark, SF),
                              "EqualTo(c_custkey,42)")


def test_projection_prunes_scan(spark):
    cols = pruned_scan_columns(q_filter_orders(spark, SF))
    # orders has 6 columns; the query needs 3 projected + 2 filter cols
    assert cols and all("o_orderpriority" not in c for c in cols)


def test_small_dims_broadcast(spark):
    assert has_broadcast_join(q_region_customer_counts(spark, SF))
    assert has_broadcast_join(q_customers_with_orders(spark, SF))


def test_no_python_in_relational_paths(spark):
    for q in (q_token_explode, q_filter_orders, q_top_orders,
              q_region_customer_counts):
        assert python_eval_count(q(spark, SF)) == 0


def test_topk_compiles_to_take_ordered(spark):
    s = explain_str(q_top_orders(spark, SF), "simple")
    assert "TakeOrderedAndProject" in s


def test_hybrid_search_reads_stored_index(spark, tmp_path):
    """The query path reads the persisted index_fulltext table — no
    per-query index rebuild (VERDICT r1 #2): the plan scans the stored
    parquet index, and the fulltext leg contains no aggregation over
    the works corpus."""
    from openalex_neo4j_spark.corpus import build_world, pages_dataframe
    from openalex_neo4j_spark.materialize import write_graph
    from openalex_neo4j_spark.pipeline import build_graph
    from openalex_neo4j_spark.search import fulltext_topk, hybrid_search

    world = build_world(40, seed=13)
    g = build_graph(pages_dataframe(spark, world), generate_embeddings=True)
    root = str(tmp_path / "wh")
    write_graph(g, root, with_search_indexes=True)

    nodes = {
        label: spark.read.parquet(f"{root}/nodes_{label.lower()}")
        for label in ("Work", "Author", "Institution", "Source",
                      "Topic", "Publisher", "Funder")
    }
    edges = spark.read.parquet(f"{root}/edges")
    index = spark.read.parquet(f"{root}/index_fulltext")

    w = next(w for w in world.works.values() if w.has_canonical)
    # the fulltext leg alone: one scan of the stored index, zero scans
    # of the works table (a rebuild would tokenize + aggregate works)
    leg = fulltext_topk(index, w.title, 10)
    plan = explain_str(leg, "formatted")
    assert "index_fulltext" in plan
    assert "nodes_work" not in plan

    res = hybrid_search(w.title, nodes, edges, limit=5, index=index)
    plan = explain_str(res, "formatted")
    assert "index_fulltext" in plan
    rows = res.collect()
    assert rows and any("doi:" in r["id"] for r in rows)


def test_kg_scan_prunes_html_from_non_extract_paths(spark, tmp_path):
    """The binary column must only be read by the extraction stage."""
    from openalex_neo4j_spark.corpus import build_world, write_pages_parquet
    from openalex_neo4j_spark.extract import mentions_from_pages

    world = build_world(30, seed=7)
    path = str(tmp_path / "pages")
    write_pages_parquet(world, path, num_files=2)
    pages = spark.read.parquet(path)

    m = mentions_from_pages(pages)
    scans = pruned_scan_columns(m)
    assert scans and all(set(c) <= {"url", "html"} for c in scans)
    # exactly one intentional python stage (the mention parser)
    assert python_eval_count(m) == 1

    # a downstream consumer that doesn't need html must not scan it
    langs = pages.groupBy("lang").count()
    scans = pruned_scan_columns(langs)
    assert scans and all("html" not in c for c in scans)


def test_ckpt_storage_level_is_disk_only(spark):
    """Large-intermediate checkpoints must NOT hold blocks on-heap:
    on-heap checkpoint blocks become multi-GB young-gen survivors and
    G1 evacuation pauses stretch to seconds (measured 15s
    G1CollectForAllocation at 300k works — see session.ckpt)."""
    from openalex_neo4j_spark.session import ckpt

    df = ckpt(spark.range(100).toDF("x"))
    assert df.count() == 100
    # df.rdd rebuilds a fresh RDD; the checkpoint's blocks are visible
    # only through the block-manager storage info
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    assert infos, "no cached RDDs found after eager ckpt"
    newest = max(infos, key=lambda i: i.id())
    assert newest.memSize() == 0, "ckpt blocks must not sit on-heap"
    assert newest.diskSize() > 0
    assert "Disk" in newest.storageLevel().description()


def test_cluster_map_join_is_broadcast(spark, tmp_path):
    """The final mention->cluster_id map-back join in link_mentions
    must BROADCAST the (tid, cluster_id) map at in-cap group counts:
    a sort-merge join there serializes the full text-heavy mention
    payload (title/abstract/author arrays) through a shuffle just to
    attach a ~50-byte cluster id per row — the widest shuffle in the
    link phase. AQE's runtime SMJ->BHJ conversion still writes the
    probe-side shuffle files; only the planned broadcast avoids the
    exchange entirely (linking.BROADCAST_CLUSTER_MAP_MAX_BYTES)."""
    from openalex_neo4j_spark.corpus import build_world, write_pages_parquet
    from openalex_neo4j_spark.extract import mentions_from_pages
    from openalex_neo4j_spark.linking import link_mentions

    world = build_world(30, seed=11)
    path = str(tmp_path / "pages")
    write_pages_parquet(world, path, num_files=2)
    linked = link_mentions(mentions_from_pages(spark.read.parquet(path)))

    plan = explain_str(linked, "formatted")
    # the map-back join is keyed on tid and must build (broadcast) the
    # cluster-map side: its detail section lists tid as a join key
    bhj = [b for b in plan.split("\n(") if b.startswith(tuple("0123456789"))
           and "BroadcastHashJoin" in b and "keys [1]: [tid" in b]
    assert bhj, f"cluster-map join not broadcast:\n{plan[:4000]}"
    # and the mention (probe) side of the link output must not sit
    # behind a hash-partitioned exchange on tid
    assert "hashpartitioning(tid" not in plan


def test_minhash_banding_has_no_window_and_one_exchange(spark):
    """The LSH banding plan must stay window-free: shingles are built
    row-locally (transform over shingle starts) so the only exchange
    before band emission is the signature min-aggregation. The earlier
    window/lead formulation shuffled the full exploded WORD stream
    (title string + extras on every word row — the widest exchange in
    linking) and paid a distinct shuffle the min-agg makes redundant."""
    from openalex_neo4j_spark.linking import _minhash_bands

    titles = spark.createDataFrame(
        [("deep learning for graphs", 1), ("one", 2)], "t string, tid int")
    # simple mode: each operator appears exactly once in the tree
    # (formatted repeats names as detail-section headers)
    plan = explain_str(_minhash_bands(titles, ["tid"]), "simple")
    assert "Window" not in plan, "banding must not use a window"
    n_exch = plan.count("Exchange")
    assert n_exch == 1, (
        "banding must shuffle exactly once (the signature aggregation); "
        f"got {n_exch} exchanges:\n{plan}")


def test_stage_parquet_empty_partitioned_roundtrip(spark):
    """An empty input staged with partition_by must come back as an
    empty scan with the declared schema — an empty partitioned write
    emits no part files, so schema INFERENCE on the read would raise
    'Unable to infer schema' (the empty-edge-table graph is legal)."""
    from openalex_neo4j_spark.session import stage_parquet

    empty = spark.createDataFrame(
        [], "subj string, pred string, obj string")
    out = stage_parquet(empty, "empty_edges", partition_by=["pred"])
    assert out.count() == 0
    assert set(out.columns) == {"subj", "pred", "obj"}


def _assert_matches_duckdb_oracle(spark, query, table, sf_dir):
    """A contract query against its ORACLE_SQL on DuckDB over the same
    table: row count, column names and order-insensitive value hash,
    the comparison scripts/check_oracles.py makes."""
    import duckdb

    from openalex_neo4j_spark.driver_contract import ORACLE_SQL, QUERIES
    from scripts.check_oracles import value_hash

    df = QUERIES[query](spark, sf_dir)
    rows = [tuple(r) for r in df.collect()]
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM "
                    f"'{sf_dir}/{table}.parquet'")
        res = con.execute(ORACLE_SQL[query])
        ocols = [d[0] for d in res.description]
        orows = res.fetchall()
    finally:
        con.close()
    assert rows and len(rows) == len(orows)
    assert sorted(df.columns) == sorted(ocols)
    assert value_hash(df.columns, rows) == value_hash(ocols, orows)


def test_q_simhash_matches_duckdb_oracle(spark):
    _assert_matches_duckdb_oracle(spark, "q_simhash", "documents", SF_TINY)


def test_q_snapshot_merge_matches_duckdb_oracle(spark):
    """Pins upsert_nodes' last-wins over an overlapping delta against
    the oracle's CASE. sf0.01: at sf0.001 customer holds only keys
    0-149, so the delta (101-300) would insert no new key."""
    _assert_matches_duckdb_oracle(spark, "q_snapshot_merge", "customer", SF)


def _last_job_id(spark) -> int:
    """Id of the newest job in the driver's status store, after the
    listener has processed every event (perfbench/spans.py recipe)."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jobs = jsc.statusStore().jobsList(None)
    return jobs.apply(0).jobId() if jobs.size() else -1


# Spark jobs one build_graph + write_graph of build_world(30, seed=5)
# submits on local[8] with 8 shuffle partitions: each AQE shuffle
# stage, barrier, table write and driver collect is one job.
BUILD_AND_WRITE_JOBS = 64
#: merge_graph of the same 30-work graph onto its committed copy
MERGE_JOBS = 74


def test_spread_decides_from_the_file_scheme(spark, tmp_path):
    """_spread repartitions a local table with fewer row groups than
    cores, passes a non-local table through without probing it, and
    raises on a local footer it cannot read."""
    from openalex_neo4j_spark.driver_contract import _spread

    target = spark.sparkContext.defaultParallelism
    path = str(tmp_path / "one_file")
    spark.range(100).coalesce(1).write.parquet(path)
    df = spark.read.parquet(path)
    assert len(df.inputFiles()) == 1
    assert _spread(df).rdd.getNumPartitions() == target

    class Remote:
        sparkSession = spark

        def inputFiles(self):
            return ["hdfs://namenode:8020/warehouse/t/part-00000.parquet"]

    remote = Remote()
    assert _spread(remote) is remote

    from urllib.parse import urlparse
    with open(urlparse(df.inputFiles()[0]).path, "wb") as fh:
        fh.write(b"not a parquet file")
    with pytest.raises(Exception, match="(?i)parquet"):
        _spread(df)


def test_kg_graph_root_concurrent_cold_builds_share_one_root(spark,
                                                            monkeypatch):
    """Two cold callers both build (held together until both are
    writing), one rename promotes its build, the other discards its
    own: both get the same complete root and no build dir is left."""
    import glob
    import os
    import shutil
    import threading

    import openalex_neo4j_spark.corpus as corpus
    import openalex_neo4j_spark.materialize as mat
    import openalex_neo4j_spark.pipeline as pipe
    from openalex_neo4j_spark.driver_contract import _kg_graph_root

    both_writing = threading.Barrier(2, timeout=120)

    def fake_write_graph(g, root, with_search_indexes=False):
        both_writing.wait()
        os.makedirs(f"{root}/edges")
        open(f"{root}/edges/part-0.parquet", "w").close()

    for mod, name in ((corpus, "build_world"), (corpus, "pages_dataframe"),
                      (pipe, "build_graph")):
        monkeypatch.setattr(mod, name, lambda *a, **k: None)
    monkeypatch.setattr(mat, "write_graph", fake_write_graph)
    n_works = 1000 + os.getpid() % 100000  # a root no other run shares
    roots, errors = [], []

    def call():
        try:
            roots.append(_kg_graph_root(spark, n_works))
        except Exception as e:  # surfaced by the asserts below
            errors.append(e)

    threads = [threading.Thread(target=call) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(300)
    try:
        assert not any(t.is_alive() for t in threads)
        assert not errors and len(roots) == 2 and roots[0] == roots[1]
        root = roots[0]
        assert os.path.exists(f"{root}/_GRAFT_COMPLETE")
        assert os.path.exists(f"{root}/edges/part-0.parquet")
        assert glob.glob(f"{root}.build_*") == []
    finally:
        for d in glob.glob(f"/tmp/spark_graft_kg_edges_w{n_works}_s42_*"):
            shutil.rmtree(d, ignore_errors=True)


def test_kg_graph_root_key_follows_the_source(tmp_path):
    """The contract graphs' cache key is a hash of the package source:
    one changed byte in one package file names a new root."""
    import pathlib
    import shutil

    import openalex_neo4j_spark
    from openalex_neo4j_spark.driver_contract import _source_key

    pkg = tmp_path / "pkg"
    shutil.copytree(pathlib.Path(openalex_neo4j_spark.__file__).parent, pkg)
    key = _source_key(pkg)
    assert _source_key(pkg) == key
    f = pkg / "operators" / "cc.py"
    f.write_bytes(f.read_bytes().replace(b"\n", b" \n", 1))
    assert _source_key(pkg) != key


def test_build_and_write_job_budget(spark, tmp_path):
    """The build and the cold import submit no more Spark jobs than
    this budget: each job is a driver-serial round trip of fixed
    scheduling cost, which at small scale is most of the wall."""
    from openalex_neo4j_spark.corpus import build_world, pages_dataframe
    from openalex_neo4j_spark.materialize import write_graph
    from openalex_neo4j_spark.pipeline import build_graph

    pages = pages_dataframe(spark, build_world(30, seed=5), num_partitions=4)
    before = _last_job_id(spark)
    counts = write_graph(build_graph(pages), str(tmp_path / "kg"))
    jobs = _last_job_id(spark) - before
    assert counts["triples"] > 0
    assert jobs <= BUILD_AND_WRITE_JOBS, (
        f"{jobs} jobs > budget {BUILD_AND_WRITE_JOBS}")


def test_merge_job_budget(spark, tmp_path):
    """The cumulative import's merge submits no more Spark jobs than
    this budget (see test_build_and_write_job_budget): with it, the
    finishing step a build and a merge share cannot grow either path
    unseen."""
    from openalex_neo4j_spark.corpus import build_world, pages_dataframe
    from openalex_neo4j_spark.materialize import merge_graph, write_graph
    from openalex_neo4j_spark.pipeline import build_graph

    pages = pages_dataframe(spark, build_world(30, seed=5), num_partitions=4)
    g = build_graph(pages)
    root = str(tmp_path / "kg")
    write_graph(g, root)
    before = _last_job_id(spark)
    counts = merge_graph(g, root)
    jobs = _last_job_id(spark) - before
    assert counts["triples"] > 0
    assert jobs <= MERGE_JOBS, f"{jobs} jobs > budget {MERGE_JOBS}"


def test_barrier_on_shared_parent_does_not_deadlock(spark):
    """Frames that all join one checkpointed parent, checkpointed by
    one concurrent barrier: the barrier returns (a lock-order inversion
    in Spark's checkpoint code can hang concurrent first uses of a
    shared checkpoint) and the frames keep their rows."""
    import threading

    from openalex_neo4j_spark.session import barrier

    parent = barrier({"p": spark.range(3000).selectExpr(
        "id", "id % 11 AS k")})["p"]
    frames = {f"f{i}": spark.range(800).selectExpr(f"id * {i + 1} AS id")
              .join(parent, "id").groupBy("k").count()
              for i in range(6)}
    out = {}
    t = threading.Thread(target=lambda: out.update(barrier(frames)),
                         daemon=True)
    t.start()
    t.join(timeout=300)
    assert not t.is_alive(), "barrier did not return"

    def rows(df):
        return sorted(tuple(r) for r in df.collect())
    assert {n: rows(df) for n, df in out.items()} == {
        n: rows(df) for n, df in frames.items()}
