"""Citation-rank (iterative propagation) and bucketed-write tests."""

import shutil

import pytest
from pyspark.sql import functions as F

from openalex_neo4j_spark.operators.graphalgo import citation_rank


def _edges(spark, pairs):
    return spark.createDataFrame(
        [(a, "CITES", b) for a, b in pairs], ["subj", "pred", "obj"])


def test_sink_accumulates_rank(spark):
    # star: many works cite one target -> target ranks highest
    e = _edges(spark, [(f"w{i}", "hub") for i in range(5)])
    ranks = {r["id"]: r["rank"] for r in citation_rank(e, iterations=5).collect()}
    assert ranks["hub"] > max(v for k, v in ranks.items() if k != "hub")


def test_chain_monotone(spark):
    # w0 -> w1 -> w2: downstream accumulates more
    e = _edges(spark, [("w0", "w1"), ("w1", "w2")])
    ranks = {r["id"]: r["rank"] for r in citation_rank(e, iterations=10).collect()}
    assert ranks["w2"] > ranks["w1"] > ranks["w0"]


def test_rank_on_built_graph(spark, small_graph):
    ranks = citation_rank(small_graph.edges, iterations=5)
    n = ranks.count()
    assert n > 0
    assert ranks.filter(F.col("rank") <= 0).count() == 0


def write_bucketed(df, table: str, key: str, num_buckets: int = 16) -> None:
    """Bucketed + sorted catalog table: joins on ``key`` between
    co-bucketed tables need no exchange (the warehouse analog of
    pre-partitioning for repeated co-located joins — SURVEY §4)."""
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    # a stale managed location without catalog metadata (e.g. from a
    # previous session) blocks re-creation — clear it
    wh = spark.conf.get("spark.sql.warehouse.dir", "")
    if wh.startswith("file:"):
        wh = wh[5:]
    if wh:
        shutil.rmtree(f"{wh}/{table}", ignore_errors=True)
    (df.write.mode("overwrite").bucketBy(num_buckets, key).sortBy(key)
     .format("parquet").saveAsTable(table))


def test_bucketed_write_joins_without_exchange(spark, tmp_path):
    from plan_audit import explain_str

    a = spark.createDataFrame([(i, f"v{i}") for i in range(100)], ["id", "va"])
    b = spark.createDataFrame([(i, i * 2) for i in range(100)], ["id", "vb"])
    write_bucketed(a, "t_a", "id", num_buckets=4)
    write_bucketed(b, "t_b", "id", num_buckets=4)
    # force a sort-merge join (tiny tables would broadcast) to prove
    # the bucketed layout removes the shuffle entirely
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("t_a").join(spark.table("t_b"), "id")
        plan = explain_str(joined, "simple")
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan
        assert joined.count() == 100
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
