"""Connected-components operator unit tests (hash-to-min)."""

import random

from openalex_neo4j_spark.operators.cc import (
    connected_components,
    connected_components_auto,
    driver_union_find,
)


def _cc(spark, pairs):
    df = spark.createDataFrame(pairs, ["src", "dst"])
    return {
        r["node"]: r["component"]
        for r in connected_components(df).collect()
    }


def test_two_components(spark):
    got = _cc(spark, [("a", "b"), ("b", "c"), ("x", "y")])
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_chain_converges(spark):
    # long path exercises multi-iteration propagation
    pairs = [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(12)]
    got = _cc(spark, pairs)
    assert set(got.values()) == {"n00"}


def test_self_loop_and_duplicate_edges(spark):
    got = _cc(spark, [("a", "a"), ("a", "b"), ("b", "a")])
    assert got["b"] == "a"


def test_star(spark):
    pairs = [("hub", f"leaf{i}") for i in range(20)]
    got = _cc(spark, pairs)
    assert set(got.values()) == {"hub"}


def test_distributed_path_matches_union_find(spark):
    """Over-threshold graphs must take the distributed hash-to-min
    loop, and its labeling must equal the driver union-find exactly —
    exercised by forcing the threshold to 0 on a random multi-component
    graph (chains + stars + cliques + singleton edges)."""
    rng = random.Random(7)
    pairs = []
    for comp in range(40):
        members = [f"c{comp:02d}_{i:02d}" for i in range(rng.randint(2, 30))]
        # random spanning connections + a few extra edges
        for i in range(1, len(members)):
            pairs.append((members[i], members[rng.randrange(i)]))
        for _ in range(rng.randint(0, 5)):
            pairs.append((rng.choice(members), rng.choice(members)))
    rng.shuffle(pairs)
    df = spark.createDataFrame(pairs, ["src", "dst"])

    # threshold 0 -> the auto dispatcher MUST use the distributed loop
    dist = {
        r["node"]: r["component"]
        for r in connected_components_auto(df, max_driver_edges=0).collect()
    }
    want = dict(driver_union_find(pairs))
    assert dist == want
    # every component labeled by its min member
    for node, comp in dist.items():
        assert comp <= node


def test_auto_empty_edges_returns_none(spark):
    df = spark.createDataFrame([], "src string, dst string")
    assert connected_components_auto(df) is None


def test_auto_driver_path_matches_union_find(spark):
    pairs = [("a", "b"), ("b", "c"), ("x", "y")]
    df = spark.createDataFrame(pairs, ["src", "dst"])
    got = {r["node"]: r["component"]
           for r in connected_components_auto(df).collect()}
    assert got == dict(driver_union_find(pairs))


def test_reliable_checkpoint_path_identical(spark, tmp_path):
    """With a checkpoint dir configured, the iterative loop uses
    reliable DataFrame.checkpoint() (fault-tolerant: blocks live in
    the checkpoint dir, not on a single executor) and produces the
    identical labeling."""
    pairs = [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(10)]
    df = spark.createDataFrame(pairs, ["src", "dst"])
    want = {r["node"]: r["component"]
            for r in connected_components(df).collect()}

    ckdir = str(tmp_path / "reliable_ck")
    try:
        spark.sparkContext.setCheckpointDir(ckdir)
        got = {r["node"]: r["component"]
               for r in connected_components(df).collect()}
        assert got == want
        # the reliable path actually wrote checkpoint data there
        import os
        assert any(os.scandir(ckdir))
    finally:
        # session-scoped spark: clear the dir so later tests fall back
        # to localCheckpoint
        getattr(spark.sparkContext._jsc.sc(), "checkpointDir_$eq")(
            spark.sparkContext._jvm.scala.Option.apply(None))
        assert spark.sparkContext.getCheckpointDir() is None
