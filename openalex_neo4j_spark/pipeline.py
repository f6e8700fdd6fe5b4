"""End-to-end KG construction: pages -> mentions -> linked clusters ->
node tables -> edge tables -> (subj, pred, obj) triples.

Stage graph (re-expression of the reference's 7-step import,
importer.py:36-98 — see SURVEY.md §3.1):

  pages ──extract──> mentions ──link──> linked mentions (work_key)
        ├─ one frame per entity (explode, validity filter, ``ids``
        │    twin) feeding both its nodes and its edges:
        ├─ work/author/institution/source/topic/funder/publisher nodes
        │    (deterministic first-wins winners — A1 importer.py:100-104)
        ├─ 7 edge types via explode + distinct (+ CITES endpoint
        │    existence semi-join — F2 importer.py:242,293)
        └─ finish_graph (also the end of every merge,
             materialize.merge_graph): count properties -> one
             barrier over the node tables -> triples = edges ∪
             exploded node-property triples

Scale notes:
- the binary ``html`` column dies at the mention stage (column
  pruning);
- every dedup is an aggregate keyed on the entity id (map-side
  partial agg), not a row window, except the Work winner pick which
  needs ordered first-wins semantics;
- CITES existence check is a left-semi join against the Work node
  table, broadcast when small, shuffle-hash otherwise (AQE decides);
- edge output is partitioned by ``pred`` downstream (materialize).
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame, functions as F

from openalex_neo4j_spark import ids
from openalex_neo4j_spark.extract import mentions_from_pages
from openalex_neo4j_spark.linking import link_mentions
from openalex_neo4j_spark.session import barrier, ckpt, stage_parquet


def camel_label_expr(col):
    """SQL camel-case: 'journal-article' -> 'JournalArticle'
    (neo4j_client.py:11-31). Exact str.capitalize() semantics per part:
    first char upcased, rest lowercased — NOT initcap, which would
    upcase every space-separated word inside a part."""
    return F.concat_ws(
        "",
        F.transform(
            F.split(F.lower(F.trim(col)), "-"),
            lambda p: F.concat(F.upper(p.substr(F.lit(1), F.lit(1))),
                               p.substr(F.lit(2), F.length(p))),
        ),
    )


@dataclass
class GraphTables:
    nodes: dict[str, DataFrame]
    edges: DataFrame
    triples: DataFrame


def work_nodes(linked: DataFrame) -> DataFrame:
    """One row per Work cluster; properties from the deterministic
    winner mention: DOI-bearing mention first (first-wins analog,
    importer.py:100-104), else min(norm_title, title, url).

    Shaped as ``groupBy(work_key).agg(min(struct(ord..., props...)))``
    rather than a row_number window: struct comparison is
    field-by-field with nulls-first ascending — exactly the window's
    ``ORDER BY ... ASC NULLS FIRST`` — but the aggregate gets map-side
    partial combining (only one candidate row per work per map
    partition enters the exchange, vs every mention row for a window)
    and needs no per-partition sort. Verified bit-identical to the
    window form on a 199k-page shard and on null-heavy fixtures;
    ~35% faster at 1 and 4 cores."""
    win = F.struct(
        F.col("doi").isNull().cast("int").alias("o1"),  # canonical first
        F.col("norm_title").alias("o2"),
        F.col("title").alias("o3"),
        F.col("url").alias("o4"),
        F.col("publication_year").alias("publication_year"),
        F.col("type").alias("type"),
        F.col("doi").alias("doi"),
        F.col("abstract").alias("abstract"),
    )
    return (
        linked.groupBy("work_key").agg(F.min(win).alias("w"))
        .select(
            F.col("work_key").alias("id"),
            F.col("w.o3").alias("title"),
            F.col("w.o2").alias("norm_title"),
            F.col("w.publication_year").alias("publication_year"),
            F.col("w.type").alias("type"),
            camel_label_expr(F.col("w.type")).alias("type_label"),
            F.col("w.doi").alias("doi"),
            F.col("w.abstract").alias("abstract"),
        )
    )


def _authors(linked: DataFrame, *keep: str) -> DataFrame:
    """(*keep, id, orcid, display_name): one row per author mention
    with an ORCID."""
    a = linked.select(*keep, F.explode("authors").alias("a"))
    return a.select(
        *keep, ids.author_id_col("a.orcid").alias("id"),
        ids.strip_col("a.orcid").alias("orcid"), "a.display_name",
    ).filter(F.col("id").isNotNull())


def _institutions(df: DataFrame, *keep: str) -> DataFrame:
    """(*keep, id, ror, display_name, country_code): one row per entry
    of ``df.institutions`` with a ROR id."""
    i = df.select(*keep, F.explode("institutions").alias("i"))
    return i.select(
        *keep, ids.institution_id_col("i.ror").alias("id"), "i.ror",
        "i.display_name", "i.country_code",
    ).filter(F.col("id").isNotNull())


def _sources(linked: DataFrame, *keep: str) -> DataFrame:
    """(*keep, id, issn, venue): one row per mention with an ISSN."""
    return linked.select(
        *keep, ids.source_id_col("issn").alias("id"),
        ids.strip_col("issn").alias("issn"), "venue",
    ).filter(F.col("id").isNotNull())


#: label -> (linked column holding its names, id twin); the array
#: columns hold many names per mention
_NAMED = {"Topic": ("topics", ids.topic_id_col),
          "Funder": ("funders", ids.funder_id_col),
          "Publisher": ("publisher", ids.publisher_id_col)}


def _named(df: DataFrame, label: str, *keep: str) -> DataFrame:
    """(*keep, id, display_name): one row per non-blank name of a
    slug-keyed ``label`` in ``df``."""
    col, id_col = _NAMED[label]
    name = F.explode(col) if label != "Publisher" else F.col(col)
    n = df.select(*keep, name.alias("name"))
    return n.select(
        *keep, id_col("name").alias("id"),
        ids.strip_col("name").alias("display_name"),
    ).filter(F.col("id").isNotNull())


def entity_nodes(linked: DataFrame) -> dict[str, DataFrame]:
    """One row per entity id for every label but Work. Grouped by the
    COMPUTED id, not the raw value: two spellings that share an id
    (' X'/'X', 'https://ror.org/x'/'ror.org/x', 'Deep  Learning'/'deep
    learning') are ONE node — the unique-id constraint (D1) every node
    table guarantees, and the invariant that lets build_triples skip a
    global dedup."""
    def first(df: DataFrame, *props: str) -> DataFrame:
        return df.groupBy("id").agg(*[F.min(p).alias(p) for p in props])

    nodes = {
        "Author": first(_authors(linked), "display_name", "orcid"),
        "Institution": first(_institutions(linked), "display_name",
                             "country_code", "ror"),
        "Source": first(_sources(linked).withColumnRenamed(
            "venue", "display_name"), "display_name", "issn"),
    }
    for label in _NAMED:
        nodes[label] = first(_named(linked, label), "display_name")
    return nodes


def build_edges(linked: DataFrame, works: DataFrame) -> DataFrame:
    """All 7 edge types (SURVEY §1.1 — code directions, not README's):
    explode (J3 importer.py:238-247), cross-product quirk
    (J4 :253-273), pair dedup (A3 :266-271), CITES endpoint existence
    semi-join (F2 :293).

    Shuffle-byte discipline (the assembly dedup is the widest shuffle
    in the phase): edge types are pred-disjoint, so the A3 pair dedup
    runs PER BRANCH on (subj, obj) only, with the constant ``pred``
    attached above the exchange — the dedup shuffle moves two strings
    per row, not three (the 10-15-byte pred string times every edge
    was pure contention tax at 4N cores), and the 7 small exchanges
    AQE-coalesce independently. The union of per-branch dedups equals
    the old global dropDuplicates(subj, pred, obj) exactly, because no
    (subj, obj) pair can appear under two preds in one branch."""
    def tag(df: DataFrame, subj: str, pred: str, obj: str) -> DataFrame:
        # pair dedup below, constant pred above the exchange
        return df.select(F.col(subj).alias("subj"), F.col(obj).alias("obj")
                         ).dropDuplicates(["subj", "obj"]).select(
            "subj", F.lit(pred).alias("pred"), "obj")

    authors = _authors(linked, "work_key", "institutions")
    sources = _sources(linked, "work_key", "publisher")
    cites = (
        linked.select("work_key", F.explode("referenced_dois").alias("ref"))
        .select("work_key", ids.work_id_col("ref").alias("ref"))
        .filter(F.col("ref") != F.col("work_key"))
        # closed-world endpoint existence (importer.py:293): cited work
        # must exist as a node
        .join(works.select(F.col("id").alias("ref")), "ref", "left_semi")
    )
    return reduce(DataFrame.unionByName, [
        tag(authors, "id", "AUTHORED", "work_key"),
        tag(_institutions(authors.withColumnRenamed("id", "author"),
                          "author"), "author", "AFFILIATED_WITH", "id"),
        tag(sources, "work_key", "PUBLISHED_IN", "id"),
        tag(cites, "work_key", "CITES", "ref"),
        tag(_named(linked, "Topic", "work_key"), "work_key", "HAS_TOPIC", "id"),
        tag(_named(linked, "Funder", "work_key"), "work_key", "FUNDED_BY",
            "id"),
        tag(_named(sources.withColumnRenamed("id", "source"), "Publisher",
                   "source"), "source", "PUBLISHED_BY", "id"),
    ])


def enrich_node_counts(nodes: dict[str, DataFrame], edges: DataFrame,
                       linked: DataFrame | None = None
                       ) -> dict[str, DataFrame]:
    """Derived count properties (round-1 verdict item 5; reference
    dataclasses persist them — models.py:168-175, 203-211, 241-250,
    317-323, and the README's most-cited queries want them,
    README.md:288-340):

    - Work.cited_by_count    = CITES in-degree
    - Author.works_count     = AUTHORED out-degree
    - Author.cited_by_count  = sum of authored works' cited_by_count
    - Institution.works_count = distinct works mentioning the
      institution (from linked mentions — the AFFILIATED_WITH edge
      carries authors, not works)
    - Source.works_count     = PUBLISHED_IN in-degree
    - Publisher.works_count  = distinct works across its sources

    Each is one groupBy over an edge slice (map-side partial agg,
    fixed-width keys) followed by a left join back to the (much
    smaller) node table — broadcast-friendly at any scale. An
    edge-derived count the node table already carries (a merge's
    upserted tables) is dropped and recomputed.

    ``linked=None`` (the cumulative-import refresh path,
    materialize.merge_graph): every count above is re-derivable from
    the merged EDGE tables except Institution.works_count, which
    counts distinct works per institution from the linked mentions —
    a corpus-history fact the warehouse does not retain. With no
    ``linked``, the Institution table passes through unchanged (the
    caller keeps its last-wins merged value; documented boundary)."""
    def rel(pred: str, subj: str, obj: str) -> DataFrame:
        return edges.filter(F.col("pred") == pred).select(
            F.col("subj").alias(subj), F.col("obj").alias(obj))

    def works_count(df: DataFrame) -> DataFrame:
        return df.groupBy("id").agg(F.count("*").alias("works_count"))

    def counted(label: str, counts: DataFrame) -> DataFrame:
        # a node with no row in ``counts`` counts 0
        names = [c for c in counts.columns if c != "id"]
        return (nodes[label].drop(*names).join(counts, "id", "left")
                .withColumns({n: F.coalesce(n, F.lit(0)) for n in names}))

    cites_in = rel("CITES", "citing", "id").groupBy("id").agg(
        F.count("*").alias("cited_by_count"))
    # Author.cited_by_count from the CITES in-degree itself, not from
    # the enriched Work table: no enriched table is part of another's
    # plan, so one barrier can materialize all of them at once
    authored = rel("AUTHORED", "author", "id").join(cites_in, "id", "left")
    a_counts = authored.groupBy(F.col("author").alias("id")).agg(
        F.count("*").alias("works_count"),
        F.sum(F.coalesce("cited_by_count", F.lit(0))).alias("cited_by_count"))
    pub_in = rel("PUBLISHED_IN", "work", "source")
    p_works = (pub_in.join(rel("PUBLISHED_BY", "source", "id"), "source")
               .select("work", "id").distinct())
    out = dict(nodes)
    out.update({
        "Work": counted("Work", cites_in),
        "Author": counted("Author", a_counts),
        "Source": counted("Source", works_count(
            pub_in.withColumnRenamed("source", "id"))),
        "Publisher": counted("Publisher", works_count(p_works)),
    })
    if linked is not None:
        out["Institution"] = counted("Institution", works_count(
            _institutions(linked, "work_key").select("work_key", "id")
            .distinct()))
    return out


def _prop_triples(df: DataFrame, props: list[str],
                  label: str) -> DataFrame:
    """(subj, pred, obj) rows for the label triple + every non-null
    property, in ONE scan of the node table: explode of a literal
    (pred, obj) struct array. A filter-branch-per-property union would
    make Spark re-execute the node-table subtree (window dedup, count
    joins) once per property — O(props) recomputes of the build DAG.

    Built as batched SQL strings: the per-property struct Columns cost
    ~0.4s of py4j round trips per build across the 7 labels (round-6
    construction audit) — pure driver time the bench counts. Label and
    property names are code-controlled identifiers (prop_map below),
    never user input."""
    items = [f"struct('label' AS pred, '{label}' AS obj)"] + [
        f"struct('{p}' AS pred, CAST(`{p}` AS STRING) AS obj)"
        for p in props
    ]
    return (
        df.selectExpr("id AS subj",
                      f"explode(array({', '.join(items)})) AS kv")
        .selectExpr("subj", "kv.pred AS pred", "kv.obj AS obj")
        .filter("obj IS NOT NULL")
    )


def build_triples(nodes: dict[str, DataFrame], edges: DataFrame) -> DataFrame:
    """triples = edges ∪ node-property triples ∪ (id, label, <Type>);
    one scan per node table (see _prop_triples)."""
    prop_map = {
        "Work": ["title", "publication_year", "type", "type_label",
                 "cited_by_count"],
        "Author": ["display_name", "works_count", "cited_by_count"],
        "Institution": ["display_name", "country_code", "works_count"],
        "Source": ["display_name", "works_count"],
        "Topic": ["display_name"],
        "Funder": ["display_name"],
        "Publisher": ["display_name", "works_count"],
    }
    out = edges
    for label, df in nodes.items():
        # derived-count props appear only on enriched node tables
        out = out.unionByName(_prop_triples(
            df, [p for p in prop_map[label] if p in df.columns], label))
    # The union is duplicate-free BY CONSTRUCTION, so no global
    # dropDuplicates — at web scale that dedup was the single widest
    # shuffle in the pipeline (every triple's (subj,pred,obj) strings
    # re-hashed and moved once more). Invariant: (a) edges are
    # pair-deduped in build_edges; (b) every node table is unique on
    # its computed id (each is a groupBy/window on that id), so
    # _prop_triples emits each (id, pred) at most once; (c) node-id
    # namespaces are prefix-disjoint (doi:/title:/orcid:/ror:/issn:/
    # topic:/funder:/publisher:) and property preds (label, title,
    # display_name, ...) are disjoint from the 7 uppercase edge types
    # — so no triple can appear in two union branches.
    return out


def link_pages(pages: DataFrame) -> DataFrame:
    """pages -> mentions -> linked mentions: the one place that decides
    how both are materialized."""
    # mentions: row-block checkpoint — only 2 consumers (a 3-column
    # aggregation + the final full-row join), and a parquet encode of
    # the text-heavy mention rows costs more JVM CPU + row-group GC
    # than both consumers save (measured: extract stage 46s -> 105s
    # when staged). The LINKED table is the opposite case: it fans out
    # to 7 node builders + edges, each needing a different column
    # slice, so it goes through stage_parquet and every consumer
    # column-prunes its scan (a single assembly stage read 6.8GB of
    # row blocks for plans that needed ~1GB of columns).
    mentions = ckpt(mentions_from_pages(pages), eager=False)
    return stage_parquet(link_mentions(mentions), "linked")


def build_graph(pages: DataFrame, skip_abstracts: bool = False,
                generate_embeddings: bool = False,
                embedding_model: str | None = None) -> GraphTables:
    return build_graph_from_linked(link_pages(pages),
                                   skip_abstracts=skip_abstracts,
                                   generate_embeddings=generate_embeddings,
                                   embedding_model=embedding_model)


def build_graph_from_linked(linked: DataFrame,
                            generate_embeddings: bool = False,
                            embedding_model: str | None = None,
                            skip_abstracts: bool = False) -> GraphTables:
    """Node, edge and triple tables over linked mentions: the one
    assembly every build path (``build_graph``, the query-seeded import,
    the resumable build) runs."""
    if skip_abstracts:
        # P10 (importer.py:73-77): drop abstracts behind a config flag
        linked = linked.withColumn("abstract", F.lit(None).cast("string"))
    nodes = {"Work": work_nodes(linked), **entity_nodes(linked)}
    if generate_embeddings:
        # optional embedding step (M4, importer.py:79-81, 350-374):
        # the driver-side loop becomes a vectorized column application;
        # materialized once on the node table, reused by search
        from openalex_neo4j_spark.search import (embed_text_column,
                                                 work_embedding_text)
        # embedding_model=None -> deterministic hash featurizer;
        # 'all-MiniLM-L6-v2' -> real sentence-transformers per worker
        # (M1 parity, reference embeddings.py:26)
        nodes["Work"] = embed_text_column(
            work_embedding_text(nodes["Work"]), "_embed_text",
            model_name=embedding_model,
        ).drop("_embed_text")
    # Materialization barriers: edges and the enriched node tables each
    # feed several plans (count enrichment, property triples, writes,
    # search). Without one, every consumer re-executes the upstream DAG
    # once per use (the column-pruned subtrees differ per consumer, so
    # ReuseExchange cannot dedupe them). Node/edge tables are tiny
    # relative to the mention corpus, so a barrier costs O(output).
    # Under AQE a lazy localCheckpoint runs all shuffle stages beneath
    # it on the calling thread anyway, so a lazy barrier only saves
    # its last-stage job, and only when one consumer on this thread
    # comes first.
    #
    # Work first: the CITES endpoint semi-join and its count enrichment
    # both reference it. Lazy: the edge stage below is its first
    # consumer.
    nodes["Work"] = ckpt(nodes["Work"], eager=False)
    # edges: COLUMNAR stage partitioned by pred, not row-block ckpt —
    # the table is re-read by 5+ consumers (four enrichment slices,
    # the triples union, writes), each needing one pred slice and 1-2
    # of the 3 columns. Branches carry constant preds, so each writer
    # task lands in exactly one partition dir (no extra shuffle).
    edges = stage_parquet(build_edges(linked, nodes["Work"]), "edges",
                          partition_by=["pred"]).select(
        "subj", "pred", "obj")
    return finish_graph(nodes, edges, linked)


def finish_graph(nodes: dict[str, DataFrame], edges: DataFrame,
                 linked: DataFrame | None = None) -> GraphTables:
    """The step every build and every merge ends with: the count
    properties (``enrich_node_counts``), all seven enriched node
    tables materialized by one concurrent barrier (they are independent
    of each other, and the triples, writes and search each read them),
    then the triples. ``edges`` must already be materialized."""
    nodes = barrier(enrich_node_counts(nodes, edges, linked))
    return GraphTables(nodes=nodes, edges=edges,
                       triples=build_triples(nodes, edges))
