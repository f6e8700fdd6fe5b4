"""Resume semantics: a killed run must not recompute completed
partitions, and the resumed output must equal a fresh run's output
(north rule; SURVEY §5 resume test)."""

import shutil

import pytest
from pyspark.sql import functions as F

from openalex_neo4j_spark.corpus import build_world, pages_dataframe
from openalex_neo4j_spark.lineage import (
    append_lineage,
    build_graph_resumable,
    completed_partitions,
    read_lineage,
    resumable_extract,
    stage_done,
)
from openalex_neo4j_spark.oracle import oracle_triples, precision_recall


@pytest.fixture(scope="module")
def pages(spark):
    world = build_world(80, seed=42)
    return pages_dataframe(spark, world), world


def test_killed_extract_resumes_without_recompute(spark, pages, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("resume"))
    pages_df, _ = pages

    # simulate a kill: only 1 chunk (4 of 16 buckets) commits
    resumable_extract(spark, pages_df, root, run_id="run1",
                      num_buckets=16, chunk_size=4, max_chunks=1)
    done1 = completed_partitions(spark, root, "extract")
    assert len(done1) == 4

    # resume: completes the remaining buckets under a new run id
    m = resumable_extract(spark, pages_df, root, run_id="run2",
                          num_buckets=16, chunk_size=4)
    done2 = completed_partitions(spark, root, "extract")
    assert done2 == set(range(16))

    lin = read_lineage(spark, root).filter(F.col("stage") == "extract")
    by_run = {r["run_id"]: r["cnt"] for r in
              lin.groupBy("run_id").agg(F.count("*").alias("cnt")).collect()}
    # run2 only processed the 12 buckets run1 didn't commit
    assert by_run == {"run1": 4, "run2": 12}
    # no bucket recorded twice
    assert lin.count() == lin.select("partition_id").distinct().count()

    # the resumed mention set equals a direct extraction
    from openalex_neo4j_spark.extract import mentions_from_pages
    direct = {r["url"] for r in
              mentions_from_pages(pages_df).select("url").collect()}
    resumed = {r["url"] for r in m.select("url").collect()}
    assert resumed == direct


def test_extract_chunk_scans_pages_once(spark, pages, tmp_path_factory):
    """Per chunk, the html-bearing pages input is evaluated exactly
    once (the extraction write) — pinned with an accumulator-counting
    identity mapInPandas wrapped around the input: a second pass (the
    old pre-count) would double the row tally."""
    root = str(tmp_path_factory.mktemp("resume_scan"))
    pages_df, _ = pages
    n_pages = pages_df.count()

    acc = spark.sparkContext.accumulator(0)

    def probe(batches):
        for b in batches:
            acc.add(len(b))
            yield b

    probed = pages_df.mapInPandas(probe, schema=pages_df.schema)
    # one chunk covering every bucket -> exactly one full pass expected
    resumable_extract(spark, probed, root, run_id="probe",
                      num_buckets=4, chunk_size=4, max_chunks=1)
    assert acc.value == n_pages, (
        f"pages evaluated {acc.value} row-passes for {n_pages} rows — "
        "the extract chunk must read its input exactly once")


def test_full_resumable_pipeline_matches_oracle(spark, pages, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("resume_full"))
    pages_df, world = pages
    tables = build_graph_resumable(spark, pages_df, root,
                                   num_buckets=8, chunk_size=8)
    pred = {(r["subj"], r["pred"], r["obj"])
            for r in tables["triples"].collect()}
    p, r = precision_recall(pred, oracle_triples(world))
    assert p >= 0.95 and r >= 0.95

    # lineage covers every stage
    stages = {r["stage"] for r in tables["lineage"].select("stage").collect()}
    assert {"extract", "link", "materialize"} <= stages

    # idempotent re-run: everything skipped, same triples
    tables2 = build_graph_resumable(spark, pages_df, root,
                                    num_buckets=8, chunk_size=8)
    pred2 = {(r["subj"], r["pred"], r["obj"])
             for r in tables2["triples"].collect()}
    assert pred2 == pred
    # no new lineage rows for completed stages
    lin2 = tables2["lineage"].filter(F.col("stage") == "materialize")
    assert lin2.count() == 1


def _triples(df) -> set[tuple]:
    return {tuple(r) for r in df.select("subj", "pred", "obj").collect()}


def test_resumable_build_matches_build_graph(spark, pages, tmp_path_factory):
    """The resumable build runs the same assembly and commit as
    build_graph + write_graph, so both warehouses hold the same
    triples."""
    from openalex_neo4j_spark.materialize import write_graph
    from openalex_neo4j_spark.pipeline import build_graph

    pages_df, _ = pages
    direct = str(tmp_path_factory.mktemp("resume_direct"))
    write_graph(build_graph(pages_df), direct)
    tables = build_graph_resumable(
        spark, pages_df, str(tmp_path_factory.mktemp("resume_same")),
        num_buckets=4, chunk_size=4)
    assert _triples(tables["triples"]) == _triples(
        spark.read.parquet(f"{direct}/triples"))


def test_resumable_build_keeps_session_overwrite_mode(spark, pages,
                                                     tmp_path_factory):
    """The extract's dynamic partition overwrite is a per-write option:
    after the build, the caller's session still overwrites statically."""
    key = "spark.sql.sources.partitionOverwriteMode"
    prior = spark.conf.get(key)
    spark.conf.set(key, "STATIC")
    try:
        build_graph_resumable(
            spark, pages[0], str(tmp_path_factory.mktemp("resume_conf")),
            num_buckets=4, chunk_size=2)
        assert spark.conf.get(key) == "STATIC"
    finally:
        spark.conf.set(key, prior)


def test_graph_stage_crash_resumes_after_link(spark, pages, tmp_path_factory,
                                             monkeypatch):
    """A crash inside the graph stage leaves extract and link done: the
    re-run recomputes neither (no new extract/link lineage rows) and
    commits the same triples as an uninterrupted run."""
    import openalex_neo4j_spark.materialize as mat

    pages_df, _ = pages
    root = str(tmp_path_factory.mktemp("resume_graph_crash"))
    write_graph = mat.write_graph
    crashes = []

    def crash_once(g, root, **kw):
        if not crashes:
            crashes.append(1)
            raise RuntimeError("killed mid graph stage")
        return write_graph(g, root, **kw)

    monkeypatch.setattr(mat, "write_graph", crash_once)
    with pytest.raises(RuntimeError, match="killed mid graph stage"):
        build_graph_resumable(spark, pages_df, root, num_buckets=4,
                              chunk_size=4)
    assert stage_done(spark, root, "link")
    assert not stage_done(spark, root, "materialize")

    def stage_rows(stage):
        return read_lineage(spark, root).filter(
            F.col("stage") == stage).count()
    before = {s: stage_rows(s) for s in ("extract", "link")}
    tables = build_graph_resumable(spark, pages_df, root, num_buckets=4,
                                   chunk_size=4)
    assert {s: stage_rows(s) for s in ("extract", "link")} == before
    assert stage_rows("materialize") == 1

    from openalex_neo4j_spark.pipeline import build_graph
    assert _triples(tables["triples"]) == _triples(
        build_graph(pages_df).triples)


def test_file_granular_chunk_reads_only_its_files(spark, pages,
                                                  tmp_path_factory):
    """File-backed input: each chunk's extraction job must read ONLY
    that chunk's files (round-2 verdict item 3 — the old hash(url)
    filter re-scanned the whole corpus once per chunk). Pinned with the
    same accumulator probe riding inside the extraction UDF input via
    row counting: one chunk over 1/4 of the buckets must evaluate ~1/4
    of the rows, not all of them."""
    from openalex_neo4j_spark.lineage import bucket_files

    root = str(tmp_path_factory.mktemp("resume_files"))
    pages_df, _ = pages
    src = str(tmp_path_factory.mktemp("pages_src"))
    # 8 physical files
    pages_df.repartition(8).write.mode("overwrite").parquet(src)
    stored = spark.read.parquet(src)
    files = sorted(stored.inputFiles())
    assert len(files) == 8
    n_total = stored.count()

    # chunk 1 of 4: buckets {0,1} -> exactly files[0], files[1],
    # files[4+...]: round-robin i % 8 over 8 buckets = 1 file per bucket
    resumable_extract(spark, stored, root, run_id="fg1",
                      num_buckets=8, chunk_size=2, max_chunks=1)
    done = completed_partitions(spark, root, "extract")
    assert done == {0, 1}

    # the committed mentions cover exactly the pages of the 2 files
    from openalex_neo4j_spark.extract import mentions_from_pages
    by_bucket = bucket_files(files, 8)
    chunk_files = by_bucket[0] + by_bucket[1]
    expect_urls = {
        r["url"] for r in mentions_from_pages(
            spark.read.parquet(*chunk_files)).select("url").collect()}
    got = spark.read.parquet(f"{root}/mentions")
    got_urls = {r["url"] for r in got.select("url").distinct().collect()}
    assert got_urls == expect_urls
    assert 0 < len(expect_urls) < n_total

    # resume completes; union equals a full direct extraction
    m = resumable_extract(spark, stored, root, run_id="fg2",
                          num_buckets=8, chunk_size=2)
    direct = {r["url"] for r in
              mentions_from_pages(stored).select("url").collect()}
    resumed = {r["url"] for r in m.select("url").collect()}
    assert resumed == direct


def test_transformed_input_keeps_its_transformations(spark, pages,
                                                     tmp_path_factory):
    """A FILTERED file-backed frame must NOT take the file-granular
    path: inputFiles() still reports the raw files, and re-reading them
    would silently discard the filter (round-3 advice, high). Pinned:
    extraction over stored.filter(...) must only emit mentions from
    rows passing the filter."""
    root = str(tmp_path_factory.mktemp("resume_xform"))
    pages_df, _ = pages
    src = str(tmp_path_factory.mktemp("pages_src_xform"))
    pages_df.repartition(4).write.mode("overwrite").parquet(src)
    stored = spark.read.parquet(src)

    urls = sorted(r["url"] for r in stored.select("url").collect())
    keep = set(urls[: len(urls) // 2])
    filtered = stored.filter(F.col("url").isin(list(keep)))
    assert filtered.inputFiles()  # the trap: files still visible

    m = resumable_extract(spark, filtered, root, run_id="xf",
                          num_buckets=4, chunk_size=4)
    got_urls = {r["url"] for r in m.select("url").distinct().collect()}
    assert got_urls <= keep, (
        "mentions extracted from filtered-out pages — the file-granular "
        "path discarded the caller's filter")

    from openalex_neo4j_spark.extract import mentions_from_pages
    expect = {r["url"] for r in
              mentions_from_pages(filtered).select("url").collect()}
    assert got_urls == expect


def test_resume_refuses_scheme_mismatch(spark, pages, tmp_path_factory):
    """Lineage bucket ids are only meaningful under the bucketing
    scheme that produced them: a hash-bucket run resumed as a
    file-round-robin run (or a changed file set) must refuse, not
    silently drop/duplicate pages (round-3 advice, medium)."""
    root = str(tmp_path_factory.mktemp("resume_scheme"))
    pages_df, _ = pages

    # partial run under the hash scheme (in-memory frame)
    resumable_extract(spark, pages_df, root, run_id="s1",
                      num_buckets=8, chunk_size=2, max_chunks=1)
    assert len(completed_partitions(spark, root, "extract")) == 2

    # same scheme resumes fine
    resumable_extract(spark, pages_df, root, run_id="s2",
                      num_buckets=8, chunk_size=2, max_chunks=1)
    assert len(completed_partitions(spark, root, "extract")) == 4

    # file-backed input = different scheme -> refuse
    src = str(tmp_path_factory.mktemp("pages_src_scheme"))
    pages_df.repartition(4).write.mode("overwrite").parquet(src)
    stored = spark.read.parquet(src)
    # the refusal must carry the one-line remedy (delete lineage root
    # or use a fresh one), not just the diagnosis
    with pytest.raises(ValueError, match=r"Remedy: .*rm -rf"):
        resumable_extract(spark, stored, root, run_id="s3",
                          num_buckets=8, chunk_size=2)

    # different num_buckets under the same scheme -> refuse too
    with pytest.raises(ValueError, match="scheme"):
        resumable_extract(spark, pages_df, root, run_id="s4",
                          num_buckets=16, chunk_size=2)


def test_file_granular_chunk_plan_scans_only_chunk_files(spark, pages,
                                                         tmp_path_factory):
    """Plan-level pin: a per-bucket scan built the way resumable_extract
    builds it reports exactly the bucket's files in inputFiles()."""
    from openalex_neo4j_spark.lineage import bucket_files

    pages_df, _ = pages
    src = str(tmp_path_factory.mktemp("pages_src_plan"))
    pages_df.repartition(6).write.mode("overwrite").parquet(src)
    stored = spark.read.parquet(src)
    files = sorted(stored.inputFiles())
    by_bucket = bucket_files(files, 3)
    bdf = spark.read.schema(stored.schema).parquet(*by_bucket[1])
    assert sorted(bdf.inputFiles()) == sorted(by_bucket[1])
    assert set(by_bucket[1]).isdisjoint(by_bucket[0])


def test_read_lineage_raises_on_unreadable_lineage(spark, tmp_path):
    """Only a missing or data-less lineage dir reads as empty lineage;
    an unreadable one raises instead of silently resetting resume
    state."""
    import os

    root = str(tmp_path)
    assert read_lineage(spark, root).count() == 0
    os.makedirs(f"{root}/lineage")
    open(f"{root}/lineage/_SUCCESS", "w").close()
    assert read_lineage(spark, root).count() == 0

    with open(f"{root}/lineage/part-00000.parquet", "wb") as fh:
        fh.write(b"not a parquet file")
    with pytest.raises(Exception) as e:
        read_lineage(spark, root).collect()
    assert "parquet" in str(e.value).lower()


def test_extract_raises_on_corrupt_mentions_file(spark, pages,
                                                 tmp_path_factory):
    """A corrupt part file under <root>/mentions fails the extract
    instead of being counted as 0 rows (or an empty mention table)."""
    import os

    root = str(tmp_path_factory.mktemp("resume_corrupt"))
    pages_df, _ = pages
    src = str(tmp_path_factory.mktemp("pages_src_corrupt"))
    pages_df.repartition(2).write.mode("overwrite").parquet(src)
    stored = spark.read.parquet(src)
    assert len(stored.inputFiles()) == 2
    # 2 files round-robin over 4 buckets: bucket 3 gets no file, so the
    # chunk's dynamic overwrite leaves its directory as it is
    os.makedirs(f"{root}/mentions/bucket=3")
    with open(f"{root}/mentions/bucket=3/part-00000.parquet", "wb") as fh:
        fh.write(b"not a parquet file")
    with pytest.raises(Exception) as e:
        resumable_extract(spark, stored, root, run_id="c1",
                          num_buckets=4, chunk_size=4)
    assert "parquet" in str(e.value).lower()
    assert not completed_partitions(spark, root, "extract")


def test_lineage_reads_spark_and_pyarrow_rows(spark, tmp_path):
    """A lineage dir holding a Spark-written file and files appended by
    append_lineage (pyarrow) reads as one table, and stage_done sees
    the stages of both writers."""
    import os

    from openalex_neo4j_spark.schemas import LINEAGE_SCHEMA

    root = str(tmp_path)
    spark.createDataFrame(
        [("link", -1, None, 10, 5, "done", "r1")], LINEAGE_SCHEMA
    ).write.mode("append").parquet(f"{root}/lineage")
    append_lineage(root, [("extract", 0, None, 3, 1, "done", "r2"),
                          ("extract", 1, 7, 4, 2, "done", "r2")])
    append_lineage(root, [("materialize", -1, None, 42, 9, "done", "r2")])

    assert not [f for f in os.listdir(f"{root}/lineage")
                if f.endswith(".tmp")]
    got = sorted(tuple(r) for r in read_lineage(spark, root).collect())
    assert got == sorted([
        ("link", -1, None, 10, 5, "done", "r1"),
        ("extract", 0, None, 3, 1, "done", "r2"),
        ("extract", 1, 7, 4, 2, "done", "r2"),
        ("materialize", -1, None, 42, 9, "done", "r2")])
    assert stage_done(spark, root, "link")
    assert stage_done(spark, root, "materialize")
    assert not stage_done(spark, root, "extract")
    assert completed_partitions(spark, root, "extract") == {0, 1}


def test_append_lineage_crash_before_rename_keeps_prior_rows(
        spark, tmp_path, monkeypatch):
    """A crash inside append_lineage after its hidden temp file is
    written but before the rename leaves the lineage exactly as it was:
    readers skip the hidden file, so no partial row set shows. A later
    append succeeds and both row sets read back."""
    import os

    from openalex_neo4j_spark import lineage

    root = str(tmp_path)
    first = [("link", -1, None, 10, 5, "done", "r1")]
    second = [("materialize", -1, None, 42, 9, "done", "r2")]
    append_lineage(root, first)

    real_rename = os.rename

    def crash_once(src, dst):
        monkeypatch.setattr(lineage.os, "rename", real_rename)
        assert os.path.getsize(src) > 0
        raise OSError("killed before rename")

    monkeypatch.setattr(lineage.os, "rename", crash_once)
    with pytest.raises(OSError, match="killed before rename"):
        append_lineage(root, second)

    assert [tuple(r) for r in read_lineage(spark, root).collect()] == first
    assert stage_done(spark, root, "link")
    assert not stage_done(spark, root, "materialize")
    assert [f for f in os.listdir(f"{root}/lineage") if f.endswith(".tmp")]

    append_lineage(root, second)
    got = sorted(tuple(r) for r in read_lineage(spark, root).collect())
    assert got == sorted(first + second)
    assert stage_done(spark, root, "link")
    assert stage_done(spark, root, "materialize")
