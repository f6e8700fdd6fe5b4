"""Hash-to-min connected components over an edge DataFrame.

The canonicalization primitive (north rule: "hash-to-min connected
components for canonicalizing duplicate Work/Author/Institution
entities"). The reference needs no CC — Neo4j MERGE on the OpenAlex id
is its canonicalizer (neo4j_client.py:246-252); on web pages identity
must be *computed*, and duplicate-mention clusters are the components
of the match graph.

Implementation: label propagation to the component minimum
(hash-to-min, Rastogi et al. 2012 style simplification). Each
iteration is one shuffle (join labels->edges + min-aggregate);
``session.iter_ckpt`` truncates lineage so plans stay bounded on long
chains — a reliable ``checkpoint()`` (survives executor loss) when a
checkpoint dir is configured, ``localCheckpoint`` otherwise. Convergence is checked by counting changed labels; clusters
here are small (duplicate-mention groups), so iterations ~ O(log d)
with tiny d.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from openalex_neo4j_spark.session import iter_ckpt

# Below this edge count the component graph fits comfortably on the
# driver and a local union-find beats 2 shuffles/iteration of the
# distributed loop by an order of magnitude in wall time. 250k string
# pairs is tens of MB collected — conservative against wide ids; above
# it the distributed hash-to-min loop takes over.
DRIVER_CC_MAX_EDGES = 250_000


def driver_union_find(edge_rows: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """Classic path-compressed union-find; component = min member
    (string order), matching the distributed algorithm exactly."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in edge_rows:
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by min id keeps the min-member invariant cheap
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return [(n, find(n)) for n in parent]


def connected_components_auto(
    edges: DataFrame, src: str = "src", dst: str = "dst",
    max_driver_edges: int = DRIVER_CC_MAX_EDGES,
) -> DataFrame | None:
    """Size-guarded CC: contracted match graphs are usually tiny
    relative to the corpus (groups, not mentions). The strategy probe
    is a ``count()`` (cheap over the caller's checkpointed edge frame)
    followed by a full Arrow ``toPandas`` on the driver path.

    Do NOT be tempted to fuse the two into ``limit(max+1).toPandas()``:
    a CollectLimit plan disqualifies the Arrow collect path, so the
    rows come back through row-pickle — measured 39s vs ~6s for 185k
    string pairs on the 2M-page corpus. Two cheap driver round-trips
    beat one slow one.

    Returns ``None`` when the edge set is empty — callers treat that
    as "no merges" without having run a count of their own."""
    import pandas as pd

    spark = edges.sparkSession
    n = edges.count()
    if n == 0:
        return None
    if n > max_driver_edges:
        return connected_components(edges, src, dst)
    # toPandas/createDataFrame(pandas) ride the Arrow path — the
    # row-wise Py4J pickle round-trip costs seconds at 10^5 rows
    # and is pure driver-serial time (Amdahl) in the link stage
    pdf = edges.select(F.col(src), F.col(dst)).toPandas()
    rows = list(zip(pdf[src], pdf[dst]))
    comp = driver_union_find(rows)
    out = pd.DataFrame(comp, columns=["node", "component"])
    return spark.createDataFrame(out)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """Return (node, component) with component = min node id (string
    ordering) reachable in the undirected graph of ``edges``.

    Scale notes: every iteration is `labels ⋈ edges` shuffled on the
    node key followed by a min-aggregate (map-side partial agg). Both
    sides are hash-partitioned on the same key, so Catalyst reuses the
    exchange between iterations; AQE coalesces when the frontier
    shrinks.
    """
    undirected = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
    )
    # include self-loops so each propagation round carries a node's own
    # label — the loop then needs no union (a single join + min-agg per
    # iteration, and unions of self-referencing plans are avoided)
    nodes = undirected.select(F.col("a")).distinct()
    sym = iter_ckpt(undirected.union(
        nodes.select(F.col("a"), F.col("a").alias("b"))
    ))
    labels = iter_ckpt(nodes.select(
        F.col("a").alias("node"), F.col("a").alias("component")
    ))

    for _ in range(max_iter):
        lab = labels.select(
            F.col("node").alias("_n"), F.col("component").alias("_c")
        )
        prop = (
            sym.join(lab, sym["a"] == lab["_n"], "inner")
            .groupBy(F.col("b").alias("node"))
            .agg(F.min("_c").alias("component"))
        )
        # path halving (pointer jumping): component <- label(component);
        # contracts chain distances geometrically so convergence is
        # O(log diameter) instead of O(diameter)
        ptr = prop.select(
            F.col("node").alias("_pn"), F.col("component").alias("_pc")
        )
        new_labels = (
            prop.join(ptr, prop["component"] == ptr["_pn"], "left")
            .select(
                "node",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("_pc"), F.col("component")),
                ).alias("component"),
            )
        )
        # checkpoint every iteration: the changed-count action below
        # would otherwise recompute the whole lineage chain.
        # iter_ckpt = reliable checkpoint when a checkpoint dir is
        # configured (survives executor loss on a real cluster),
        # localCheckpoint otherwise (see session.iter_ckpt)
        new_labels = iter_ckpt(new_labels)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.component") != F.col("o.component"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels
