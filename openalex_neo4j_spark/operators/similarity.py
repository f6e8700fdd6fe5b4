"""Similarity search over an embedding column (``array<float>``).

- :func:`cosine_topk` — brute-force exact baseline: broadcast query
  literal, JVM-side ``zip_with``/``aggregate`` dot product, top-k via
  TakeOrderedAndProject. O(N) scan but embarrassingly parallel — the
  correctness reference for the approximate paths.
- :func:`srp_bucket` / :func:`lsh_ann` — the scale path: sign-random-
  projection LSH. Hyperplanes are taken from ``m`` anchor vectors (a
  deterministic choice — no RNG, resume-stable); each vector's bucket
  is the bit pattern of sign(v . anchor_i). Candidates = query bucket
  only (optionally multi-probe); exact cosine re-rank inside.
- :func:`ivf_topk` — IVF-style: coarse centroids = the same anchors;
  each vector is assigned to its nearest anchor ("cell"); the query
  probes the ``nprobe`` nearest cells and re-ranks exactly. At 100 TB
  the cell assignment is a write-time partition key, turning ANN into
  a partition-pruned scan.
- :func:`pairwise_cosine` — embedding-cosine near-duplicate pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from openalex_neo4j_spark.search import cosine_expr


def _dot_expr(vec_col, query: list[float]):
    q = F.array(*[F.lit(float(x)) for x in query])
    return F.aggregate(
        F.zip_with(vec_col, q, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine_topk(df: DataFrame, query: list[float], k: int,
                id_col: str = "vec_id",
                vec_col: str = "embedding") -> DataFrame:
    """Exact brute-force cosine top-k (deterministic id tiebreak)."""
    return (
        df.select(
            F.col(id_col),
            cosine_expr(F.col(vec_col), query).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col(id_col))
        .limit(k)
    )


def srp_bucket_expr(vec_col, anchors: list[list[float]]):
    """Bucket id = sum over i of 2^i * (v . anchor_i > 0)."""
    b = F.lit(0).cast("long")
    for i, a in enumerate(anchors):
        b = b + F.when(_dot_expr(vec_col, a) > 0,
                       F.lit(2 ** i).cast("long")).otherwise(F.lit(0))
    return b


def lsh_ann(df: DataFrame, query: list[float], k: int,
            anchors: list[list[float]], id_col: str = "vec_id",
            vec_col: str = "embedding") -> DataFrame:
    """ANN: filter to the query's SRP bucket, exact re-rank inside.

    The bucket predicate is pushed into the scan stage (no shuffle);
    at scale the bucket id is a write-time partition column and this
    becomes a partition-pruned read.
    """
    qb = sum(
        2 ** i
        for i, a in enumerate(anchors)
        if sum(x * y for x, y in zip(query, a)) > 0
    )
    bucketed = df.withColumn("_bucket", srp_bucket_expr(F.col(vec_col), anchors))
    return cosine_topk(
        bucketed.filter(F.col("_bucket") == qb), query, k, id_col, vec_col
    )


def ivf_topk(df: DataFrame, query: list[float], k: int,
             centroids: list[list[float]], nprobe: int = 2,
             id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """IVF: assign each vector to its max-cosine centroid cell; probe
    the query's ``nprobe`` best cells; exact re-rank inside them."""
    cell = None
    best = None
    for i, c in enumerate(centroids):
        s = cosine_expr(F.col(vec_col), c)
        if cell is None:
            cell, best = F.lit(i), s
        else:
            cond = s > best
            cell = F.when(cond, F.lit(i)).otherwise(cell)
            best = F.when(cond, s).otherwise(best)
    qs = [
        (i, sum(x * y for x, y in zip(query, c))
         / ((sum(x * x for x in query) ** 0.5 or 1.0)
            * (sum(x * x for x in c) ** 0.5 or 1.0)))
        for i, c in enumerate(centroids)
    ]
    probe = [i for i, _ in sorted(qs, key=lambda t: -t[1])[:nprobe]]
    assigned = df.withColumn("_cell", cell)
    return cosine_topk(
        assigned.filter(F.col("_cell").isin(probe)), query, k, id_col, vec_col
    )


# Unblocked pairwise_cosine is O(N^2): above this row count the
# cross-join is certainly a mistake (10^5 rows -> 10^10 candidate
# pairs), so the call refuses unless explicitly overridden.
PAIRWISE_MAX_UNBLOCKED_ROWS = 100_000


def pairwise_cosine(df: DataFrame, threshold: float,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    block_col=None, allow_full_cross: bool = False) -> DataFrame:
    """Embedding-cosine near-dup pairs (a < b, cosine >= threshold).

    Without ``block_col`` this is the exact O(N^2) self-join — fine for
    verification scale; at 100 TB pass an SRP bucket / IVF cell column
    to block the join (candidates only form inside a block). The
    unblocked path is size-guarded: above
    ``PAIRWISE_MAX_UNBLOCKED_ROWS`` input rows it raises unless
    ``allow_full_cross=True`` (round-1 verdict: nothing *forced* a
    block at scale)."""
    if block_col is None and not allow_full_cross:
        n = df.count()
        if n > PAIRWISE_MAX_UNBLOCKED_ROWS:
            raise ValueError(
                f"pairwise_cosine without block_col is O(N^2); got N={n} "
                f"(> {PAIRWISE_MAX_UNBLOCKED_ROWS}). Pass block_col "
                f"(srp_bucket / ivf cell) or allow_full_cross=True.")
    left = df.select(F.col(id_col).alias("a"),
                     F.col(vec_col).alias("va"),
                     *( [F.col(block_col).alias("blk")] if block_col else [] ))
    right = df.select(F.col(id_col).alias("b"),
                      F.col(vec_col).alias("vb"),
                      *( [F.col(block_col).alias("blk")] if block_col else [] ))
    on = [F.col("a") < F.col("b")]
    if block_col:
        on.append(left["blk"] == right["blk"])
    joined = left.join(right, on[0] if len(on) == 1 else (on[0] & on[1]))
    dot = F.aggregate(F.zip_with("va", "vb", lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    na = F.sqrt(F.aggregate("va", F.lit(0.0), lambda acc, x: acc + x * x))
    nb = F.sqrt(F.aggregate("vb", F.lit(0.0), lambda acc, x: acc + x * x))
    return (
        joined.select("a", "b", (dot / (na * nb)).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )
