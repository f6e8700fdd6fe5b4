"""As-of and range join operator tests."""

import datetime as dt

from openalex_neo4j_spark.operators.temporal import asof_join, range_join


def _ts(h, m=0):
    return dt.datetime(2024, 1, 1, h, m)


def test_asof_basic_and_tie(spark):
    left = spark.createDataFrame(
        [(1, "u", _ts(10)), (2, "u", _ts(12)), (3, "u", _ts(9))],
        ["event_id", "user_id", "ts"],
    )
    right = spark.createDataFrame(
        [("u", _ts(10), "A"), ("u", _ts(11), "B")],
        ["user_id", "ts", "tag"],
    )
    got = {r["event_id"]: r["asof_tag"]
           for r in asof_join(left, right, "user_id").collect()}
    # exact tie matches (<=); later rows take the latest prior; earlier
    # rows get null
    assert got == {1: "A", 2: "B", 3: None}


def test_asof_per_key_isolation(spark):
    left = spark.createDataFrame(
        [(1, "a", _ts(10)), (2, "b", _ts(10))],
        ["event_id", "user_id", "ts"])
    right = spark.createDataFrame(
        [("a", _ts(9), "onlyA")], ["user_id", "ts", "tag"])
    got = {r["event_id"]: r["asof_tag"]
           for r in asof_join(left, right, "user_id").collect()}
    assert got == {1: "onlyA", 2: None}


def test_asof_tolerance(spark):
    left = spark.createDataFrame(
        [(1, "u", _ts(12))], ["event_id", "user_id", "ts"])
    right = spark.createDataFrame(
        [("u", _ts(9), "old")], ["user_id", "ts", "tag"])
    with_tol = asof_join(left, right, "user_id",
                         tolerance_seconds=3600).collect()[0]
    assert with_tol["asof_tag"] is None          # 3h > 1h tolerance
    no_tol = asof_join(left, right, "user_id").collect()[0]
    assert no_tol["asof_tag"] == "old"


def test_range_join_buckets(spark):
    rows = spark.createDataFrame(
        [(1, 5.0), (2, 55.0), (3, 999.0)], ["id", "v"])
    ranges = spark.createDataFrame(
        [(0.0, 50.0, "low"), (50.0, 100.0, "mid")], ["lo", "hi", "band"])
    got = {r["id"]: r["band"]
           for r in range_join(rows, ranges, "v").collect()}
    assert got == {1: "low", 2: "mid", 3: None}


def test_range_join_is_broadcast(spark):
    from plan_audit import explain_str
    rows = spark.createDataFrame([(1, 5.0)], ["id", "v"])
    ranges = spark.createDataFrame([(0.0, 50.0, "low")], ["lo", "hi", "band"])
    s = explain_str(range_join(rows, ranges, "v"), "simple")
    assert "BroadcastNestedLoopJoin" in s
