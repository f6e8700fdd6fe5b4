"""Hybrid retrieval over the built graph: vector + fulltext + RRF.

Re-expression of the reference's ``HybridSearcher`` (search.py:43-84):

  query ──embed──> vector top-2k  ─┐
        └─fulltext top-2k ─────────┴─ RRF fuse ─ top-k ─ hydrate ─ sort

- **Embeddings** (reference embeddings.py:12-103, M1-M3): a scalar
  iterator pandas UDF; the engine ships a deterministic hash-based
  featurizer honoring the 384-dim contract (neo4j_client.py:199-203)
  so tests need no model download. A real sentence-transformer drops
  into the same UDF shape (load-once-per-worker iterator pattern).
- **Vector search** (M5, search.py:86-124): exact cosine top-k — the
  query vector is a broadcast literal; dot product/norms computed
  JVM-side with ``aggregate``/``zip_with`` (no Python in the hot
  path). The approximate scale path is
  :func:`openalex_neo4j_spark.operators.similarity.lsh_ann`.
- **Fulltext search** (M6, search.py:126-152): TF-IDF sum scoring over
  title+abstract tokens (Lucene-lite; the reference only ever passes
  plain text — cli.py:309-315).
- **RRF fusion** (W2, search.py:154-212): score = vw/(k+rank_v) +
  fw/(k+rank_f), k=60; full-outer join of the two ranked legs, missing
  ranks contribute 0. Over-fetch 2x per leg (search.py:64-67).
- **Hydration** (J5, search.py:235-266): left joins edge->node with
  collect_set aggregation, then re-sort by fused score (W5,
  search.py:287).
"""

from __future__ import annotations

import hashlib
import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import ArrayType, FloatType

EMBED_DIM = 384  # dimension contract: reference neo4j_client.py:199-203
RRF_K = 60       # reference search.py:49
OVERFETCH = 2    # reference search.py:64-67


# ---------------------------------------------------------------------------
# Embeddings (M1-M3) — deterministic hash featurizer in the iterator
# pandas-UDF shape a real model would use
# ---------------------------------------------------------------------------

def _hash_embed_one(text: str | None, dim: int = EMBED_DIM) -> list[float]:
    """Deterministic bag-of-words feature hashing with L2 norm.

    Token t adds sign(bit) at index md5(t) % dim — a stand-in with the
    same type/shape contract as SentenceTransformer.encode (384 floats,
    unit norm). Engine-stable: only depends on md5.
    """
    vec = np.zeros(dim, dtype=np.float64)
    if text:
        for tok in text.lower().split():
            h = hashlib.md5(tok.encode("utf-8")).digest()
            idx = int.from_bytes(h[:4], "big") % dim
            sign = 1.0 if h[4] & 1 else -1.0
            vec[idx] += sign
    n = float(np.linalg.norm(vec))
    if n > 0:
        vec /= n
    return [float(x) for x in vec]


@F.pandas_udf(ArrayType(FloatType()))
def hash_embed_udf(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
    """Iterator form: the no-model default. The real-model variant with
    the identical UDF shape is :func:`make_embed_udf`."""
    for texts in it:
        yield texts.map(_hash_embed_one)


# per-Python-worker model cache — the Spark analog of the reference's
# lazy module-global ``_model`` (embeddings.py:9,21-27): each executor
# Python worker loads the model once and reuses it across Arrow batches.
_MODEL_CACHE: dict = {}


def _load_model_once(model_name: str):
    if model_name not in _MODEL_CACHE:
        from sentence_transformers import SentenceTransformer  # lazy, heavy
        _MODEL_CACHE[model_name] = SentenceTransformer(model_name)
    return _MODEL_CACHE[model_name]


def make_embed_udf(model_name: str | None = None, batch_size: int = 32):
    """M1 (reference embeddings.py:12-33, 79-103): the embedding UDF.

    ``model_name=None`` (default) returns the deterministic hash
    featurizer — no downloads, engine-stable, used by all tests and
    oracles. ``model_name='all-MiniLM-L6-v2'`` (the reference's model,
    embeddings.py:26) returns a UDF that loads sentence-transformers
    ONCE per Python worker and encodes each Arrow batch with
    ``model.encode(batch_size=32)`` (embeddings.py:94-99). Both paths
    share the iterator-pandas-UDF shape and the 384-dim unit-norm
    contract; empty/whitespace-only text yields null, matching
    ``generate_embedding`` (embeddings.py:45-46).
    """
    if model_name is None:
        return hash_embed_udf

    @F.pandas_udf(ArrayType(FloatType()))
    def model_embed_udf(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        model = _load_model_once(model_name)
        for texts in it:
            filled = texts.fillna("")
            nonempty = filled.str.strip() != ""
            out = pd.Series([None] * len(texts), index=texts.index,
                            dtype=object)
            vals = filled[nonempty].tolist()
            if vals:
                vecs = model.encode(vals, batch_size=batch_size,
                                    convert_to_numpy=True)
                # index-aligned Series assignment: a bare list-of-lists
                # through the boolean mask is interpreted by pandas as
                # a 2-D array and raises "cannot assign mismatch length
                # to masked array" (caught by test_embed_model once the
                # branch first executed under a fake model module)
                out[nonempty] = pd.Series(
                    [[float(x) for x in v] for v in vecs],
                    index=filled.index[nonempty],
                )
            yield out

    return model_embed_udf


def embed_text_column(df: DataFrame, text_col: str,
                      out_col: str = "embedding",
                      model_name: str | None = None) -> DataFrame:
    return df.withColumn(out_col,
                         make_embed_udf(model_name)(F.col(text_col)))


def query_embedding(query: str, model_name: str | None = None) -> list[float]:
    """Driver-side query-text embedding (reference search.py:55-58 calls
    generate_embedding on the query string). Same model switch as
    :func:`make_embed_udf`."""
    if model_name is None:
        return _hash_embed_one(query)
    vec = _load_model_once(model_name).encode(query, convert_to_numpy=True)
    return [float(x) for x in vec]


def work_embedding_text(works: DataFrame) -> DataFrame:
    """M2 (embeddings.py:57-76): embed 'title. abstract[:1000]'
    else title alone."""
    return works.withColumn(
        "_embed_text",
        F.when(
            F.col("abstract").isNotNull(),
            F.concat_ws(". ", F.col("title"), F.substring("abstract", 1, 1000)),
        ).otherwise(F.col("title")),
    )


# ---------------------------------------------------------------------------
# Vector leg (M5) — exact cosine, JVM-side
# ---------------------------------------------------------------------------

def cosine_expr(vec_col, query: list[float]):
    """cos(v, q) with q a broadcast literal array; evaluated with
    zip_with + aggregate inside whole-stage codegen."""
    q = F.array(*[F.lit(float(x)) for x in query])
    dot = F.aggregate(
        F.zip_with(vec_col, q, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    nv = F.sqrt(F.aggregate(vec_col, F.lit(0.0), lambda acc, x: acc + x * x))
    nq = float(math.sqrt(sum(x * x for x in query))) or 1.0
    return dot / (nv * F.lit(nq))


def vector_topk(df: DataFrame, query: list[float], k: int,
                id_col: str = "id", vec_col: str = "embedding",
                round_dp: int | None = None) -> DataFrame:
    """Exact cosine top-k (TakeOrderedAndProject — no full sort).

    ``round_dp``: half-even round scores before the ordering/cut so the
    ranking is reproducible across engines (used by the kg_hybrid
    oracle contract)."""
    score = cosine_expr(F.col(vec_col), query)
    if round_dp is not None:
        score = F.bround(score, round_dp)
    return (
        df.select(F.col(id_col).alias("id"), score.alias("score"))
        .filter(F.col("score").isNotNull())
        .orderBy(F.col("score").desc(), F.col("id"))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# Fulltext leg (M6) — TF-IDF sum scoring
# ---------------------------------------------------------------------------

def _doc_tokens(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(
                F.split(F.lower(F.regexp_replace(F.col(text_col),
                                                 r"[^\w\s]", " ")), r"\s+")
            ).alias("tok"),
        )
        .filter(F.col("tok") != "")
    )


def build_fulltext_index(df: DataFrame, id_col: str = "id",
                         text_col: str = "text") -> DataFrame:
    """Materialized inverted index (term, id, weight) — the analog of
    the reference's Lucene fulltext index DDL (neo4j_client.py:134-144).
    weight = tf * idf with idf = ln((N+1)/(df+1)) + 1."""
    toks = _doc_tokens(df, id_col, text_col)
    tf = toks.groupBy("id", "tok").agg(F.count("*").alias("tf"))
    # N as a scalar subquery, not a driver-side count: building the
    # index submits no job, and N is computed inside the query that
    # consumes it
    n_docs = df.select(F.count("*").cast("double")).scalar()
    dfreq = tf.groupBy("tok").agg(F.countDistinct("id").alias("df"))
    return (
        tf.join(dfreq, "tok")
        .select(
            "tok", "id",
            (F.col("tf") * (F.log((n_docs + 1.0)
                                  / (F.col("df") + 1)) + 1.0)).alias("weight"),
        )
    )


def work_fulltext_index(works: DataFrame) -> DataFrame:
    """The Work-table fulltext index (title + abstract), built ONCE at
    import time from the checkpointed Work frame and persisted next to
    the node tables as the ``index_fulltext`` warehouse table
    (materialize.write_graph / merge_graph), which commits through
    ``materialize._cow_commit`` like every other table — the D2 analog
    of the reference's ``CREATE FULLTEXT INDEX work_fulltext``
    (neo4j_client.py:134-144). The query path never rebuilds it."""
    return build_fulltext_index(
        works.withColumn(
            "_ft_text",
            F.concat_ws(" ", F.col("title"), F.coalesce("abstract", F.lit(""))),
        ),
        "id", "_ft_text",
    )


def parse_lucene_lite(query: str) -> dict:
    """Minimal Lucene-ish query parser (M6 depth beyond the reference
    CLI, which only ever passes plain text — cli.py:309-315; Neo4j's
    fulltext procedure accepts full Lucene syntax, so a reference user
    *could* send these):

    - bare terms       -> scored, any-match (OR semantics, like Lucene)
    - ``"a b"`` phrase -> all words required (term-set semantics; the
      bag-of-words index cannot check adjacency)
    - ``+term``        -> required (MUST)
    - ``-term``        -> excluded (MUST_NOT)
    - ``term^2.5``     -> boost: the term's index weight is multiplied
      by the boost in the score sum
    - ``field:term``   -> field prefix accepted and stripped: the
      fulltext index is a single combined title+abstract field
      (work_fulltext_index), matching the reference's one fulltext
      index over (title, abstract) — neo4j_client.py:134-144
    - ``term~`` / ``term~1`` -> fuzzy: matches every vocabulary token
      within the given Levenshtein distance (default 2, like modern
      Lucene); expanded tokens score with the term's boost
    - ``[a TO b]`` / ``{a TO b}`` -> term range (inclusive /
      exclusive): matches every vocabulary token lexicographically
      inside the bounds (``*`` = unbounded), scored with the range's
      ``^boost``; an optional field prefix is stripped like elsewhere
    - ``(a b)`` grouping: ``+(a b)`` requires at least one group
      member to match (MUST over an OR-group — the precedence case
      grouping exists for); ``-(a b)`` excludes docs matching any
      member; ``(a b)^2`` boosts each member; a bare group is plain
      OR terms

    Returns {"should": [t...], "must": [t...], "must_not": [t...],
    "phrases": [[w1, ...], ...], "boosts": {t: float},
    "fuzzy": [(t, max_edits), ...],
    "ranges": [(lo|None, hi|None, incl_lo, incl_hi, boost), ...],
    "must_any": [[t1, t2, ...], ...]}.
    """
    import re as _re

    out = {"should": [], "must": [], "must_not": [], "phrases": [],
           "boosts": {}, "fuzzy": [], "ranges": [], "must_any": []}
    for phrase in _re.findall(r'"([^"]*)"', query):
        words = [w for w in phrase.lower().split() if w]
        if words:
            out["phrases"].append(words)
    rest = _re.sub(r'"[^"]*"', " ", query)

    # term ranges: [a TO b] inclusive, {a TO b} exclusive, * unbounded
    range_re = _re.compile(
        r"(?:\w+:)?(?P<open>[\[{])\s*(?P<lo>\S+?)\s+TO\s+(?P<hi>\S+?)\s*"
        r"(?P<close>[\]}])(?:\^(?P<boost>\d+(?:\.\d+)?))?",
        _re.IGNORECASE,
    )

    def _take_range(m):
        lo = None if m.group("lo") == "*" else m.group("lo").lower()
        hi = None if m.group("hi") == "*" else m.group("hi").lower()
        out["ranges"].append((
            lo, hi, m.group("open") == "[", m.group("close") == "]",
            float(m.group("boost")) if m.group("boost") else 1.0,
        ))
        return " "

    rest = range_re.sub(_take_range, rest)

    # grouping: +(...) = at least one member must match, -(...) =
    # exclude any member, (...)^b = boost each member
    group_re = _re.compile(
        r"(?P<pfx>[+-]?)\((?P<body>[^()]*)\)"
        r"(?:\^(?P<boost>\d+(?:\.\d+)?))?")

    def _take_group(m):
        # strip an optional +/- prefix and a field: prefix from each
        # member, mirroring tok_re's handling of bare terms — without
        # this, '+(title:graph)' would bucket the literal token
        # 'title:graph', which can never exist in the vocabulary, and
        # the group filter would silently reject every document
        toks = set()
        for t in m.group("body").lower().split():
            t = t.lstrip("+-")
            t = _re.sub(r"^\w+:", "", t)
            if t and t not in ("and", "or", "not"):
                toks.add(t)
        toks = sorted(toks)
        if not toks:
            return " "
        if m.group("boost"):
            b = float(m.group("boost"))
            for t in toks:
                out["boosts"][t] = max(out["boosts"].get(t, 0.0), b)
        if m.group("pfx") == "-":
            out["must_not"].extend(toks)
        elif m.group("pfx") == "+":
            out["must_any"].append(toks)
            out["should"].extend(toks)  # members still score
        else:
            out["should"].extend(toks)
        return " "

    rest = group_re.sub(_take_group, rest)
    tok_re = _re.compile(
        r"^(?P<field>\w+:)?(?P<body>[^~^]+)"
        r"(?P<fuzzy>~(?P<edits>\d+)?)?"
        r"(?:\^(?P<boost>\d+(?:\.\d+)?))?$")
    for raw in rest.replace(",", " ").split():
        t = raw.lower()
        if t in ("and", "or", "not"):
            continue
        bucket = "should"
        if raw.startswith("+") and len(t) > 1:
            bucket, t = "must", t[1:]
        elif raw.startswith("-") and len(t) > 1:
            bucket, t = "must_not", t[1:]
        m = tok_re.match(t)
        if not m:
            out[bucket].append(t)
            continue
        body = m.group("body")
        if m.group("boost"):
            # max-merge, same as the group path — otherwise the result
            # of '(a)^5 a^2' vs 'a^2 (a)^5' would depend on token order
            out["boosts"][body] = max(
                out["boosts"].get(body, 0.0), float(m.group("boost")))
        if m.group("fuzzy") and bucket == "should":
            # fuzzy applies to scored terms only; +term~/-term~ keep
            # their exact MUST/MUST_NOT semantics (lite scope)
            edits = int(m.group("edits")) if m.group("edits") else 2
            out["fuzzy"].append((body, edits))
        else:
            out[bucket].append(body)
    for k in ("should", "must", "must_not"):
        out[k] = sorted(set(out[k]))
    out["fuzzy"] = sorted(set(out["fuzzy"]))
    # open bounds are None — a plain tuple sort raises TypeError the
    # moment a None lo/hi is compared against a string (e.g.
    # '[* TO m] [n TO z]'); key None below/above every string instead
    out["ranges"] = sorted(
        set(out["ranges"]),
        key=lambda r: ((r[0] is not None, r[0] or ""),
                       (r[1] is not None, r[1] or ""), r[2], r[3], r[4]))
    out["must_any"] = sorted({tuple(g) for g in out["must_any"]})
    out["must_any"] = [list(g) for g in out["must_any"]]
    return out


def fulltext_topk(index: DataFrame, query: str, k: int,
                  round_dp: int | None = None,
                  lucene: bool = False) -> DataFrame:
    """Score = sum of index weights over query terms. The per-term join
    is a broadcast of the tiny query-term list. ``round_dp`` rounds the
    (addition-order-dependent) sum before the ordering/cut.

    ``lucene=True`` enables the Lucene-lite operators (+term, -term,
    "phrases" — see :func:`parse_lucene_lite`): required terms/phrase
    words become per-doc MUST predicates (semi-join style, counted
    against the matched-term set), excluded terms an anti-join. The
    default plain-text path is the reference-CLI behavior."""
    spark = index.sparkSession
    empty = spark.createDataFrame([], "id string, score double")
    if lucene:
        q = parse_lucene_lite(query)
        must = sorted(set(q["must"]) | {w for p in q["phrases"] for w in p})
        scored_terms = sorted(set(q["should"]) | set(must))
    else:
        must = []
        scored_terms = sorted({t for t in
                               query.lower().replace(",", " ").split() if t})
        q = {"must_not": [], "boosts": {}, "fuzzy": []}
    ranges = q.get("ranges", [])
    must_any = q.get("must_any", [])
    if not scored_terms and not q["fuzzy"] and not ranges:
        return empty
    boosts = q.get("boosts", {})
    # grps: indexes of the +(...) OR-groups a term belongs to — the
    # per-doc aggregation counts DISTINCT matched groups, so a doc
    # qualifies iff every group contributed at least one matched term
    qdf = spark.createDataFrame(
        [(t, t in must, float(boosts.get(t, 1.0)),
          [i for i, g in enumerate(must_any) if t in g])
         for t in scored_terms],
        "tok string, required boolean, boost double, grps array<int>",
    )
    if q.get("fuzzy"):
        # fuzzy expansion: every vocabulary token within Levenshtein
        # distance of the fuzzy term becomes a scored (non-required)
        # term with the fuzzy term's boost. One pass over the distinct
        # vocab with the tiny fuzzy list broadcast — JVM levenshtein,
        # no Python.
        fz = spark.createDataFrame(
            [(t, int(d), float(boosts.get(t, 1.0))) for t, d in q["fuzzy"]],
            ["f_tok", "max_edits", "boost"],
        )
        expanded = (
            index.select("tok").distinct()
            .join(F.broadcast(fz),
                  # length-band prefilter: tokens whose lengths differ
                  # by more than max_edits cannot be within edit
                  # distance — prunes most of the vocab before the
                  # O(len^2) levenshtein (round-3 verdict finding 3)
                  (F.abs(F.length(F.col("tok")) - F.length(F.col("f_tok")))
                   <= F.col("max_edits"))
                  & (F.levenshtein(F.col("tok"), F.col("f_tok"))
                     <= F.col("max_edits")))
            .groupBy("tok")
            .agg(F.max("boost").alias("boost"))
            .select("tok", F.lit(False).alias("required"), "boost",
                    F.array().cast("array<int>").alias("grps"))
        )
        qdf = qdf.unionByName(expanded)
    if ranges:
        # range expansion: every vocabulary token lexicographically
        # inside a range's bounds becomes a scored (non-required) term
        # with the range's boost — same one-pass-over-distinct-vocab
        # shape as the fuzzy expansion, bounds broadcast
        rdf = spark.createDataFrame(
            [(lo, hi, bool(il), bool(ih), float(b))
             for lo, hi, il, ih, b in ranges],
            "lo string, hi string, il boolean, ih boolean, boost double",
        )
        lo_ok = (
            F.col("lo").isNull()
            | F.when(F.col("il"), F.col("tok") >= F.col("lo"))
            .otherwise(F.col("tok") > F.col("lo")))
        hi_ok = (
            F.col("hi").isNull()
            | F.when(F.col("ih"), F.col("tok") <= F.col("hi"))
            .otherwise(F.col("tok") < F.col("hi")))
        in_range = (
            index.select("tok").distinct()
            .join(F.broadcast(rdf), lo_ok & hi_ok)
            .groupBy("tok")
            .agg(F.max("boost").alias("boost"))
            .select("tok", F.lit(False).alias("required"), "boost",
                    F.array().cast("array<int>").alias("grps"))
        )
        qdf = qdf.unionByName(in_range)
    if q.get("fuzzy") or ranges:
        # a term can arrive from several sources — merge to one row
        qdf = qdf.groupBy("tok").agg(
            F.max("required").alias("required"),
            F.max("boost").alias("boost"),
            F.flatten(F.collect_list("grps")).alias("grps"),
        )
    score = F.sum(F.col("weight") * F.col("boost"))
    if round_dp is not None:
        score = F.bround(score, round_dp)
    hits = (
        index.join(F.broadcast(qdf), "tok")
        .groupBy("id")
        .agg(score.alias("score"),
             F.sum(F.col("required").cast("int")).alias("_req_hits"),
             F.size(F.array_distinct(F.flatten(F.collect_list("grps"))))
             .alias("_grp_hits"))
    )
    if must:
        # every required term must have matched (term-set semantics;
        # adjacency within phrases is not index-expressible here)
        hits = hits.filter(F.col("_req_hits") >= len(must))
    if must_any:
        # every +(...) group must have >= 1 matched member: the agg
        # counted DISTINCT group indexes across the doc's matched terms
        hits = hits.filter(F.col("_grp_hits") >= len(must_any))
    hits = hits.drop("_req_hits", "_grp_hits")
    if q["must_not"]:
        bad = spark.createDataFrame([(t,) for t in q["must_not"]], ["tok"])
        excluded = index.join(F.broadcast(bad), "tok").select("id").distinct()
        hits = hits.join(excluded, "id", "left_anti")
    return (
        hits.orderBy(F.col("score").desc(), F.col("id"))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# RRF fusion (W1-W4)
# ---------------------------------------------------------------------------

def rank_leg(leg: DataFrame) -> DataFrame:
    """W1 (search.py:178-198): rank 1..n by score desc, id tiebreak.
    Per-query result sets are small — the single-partition window is
    intentional (driver-side sort in the reference)."""
    w = Window.orderBy(F.col("score").desc(), F.col("id"))
    return leg.select("id", F.row_number().over(w).alias("rank"))


def rrf_fuse(vector_leg: DataFrame, fulltext_leg: DataFrame,
             k: int = RRF_K, vector_weight: float = 1.0,
             fulltext_weight: float = 1.0) -> DataFrame:
    """W2 (search.py:154-212): full-outer join on id; a doc missing
    from one leg gets only the other leg's term (tested weight extremes
    match reference tests/test_search.py:36-62)."""
    v = rank_leg(vector_leg).withColumnRenamed("rank", "rank_v")
    f_ = rank_leg(fulltext_leg).withColumnRenamed("rank", "rank_f")
    fused = v.join(f_, "id", "full_outer").select(
        "id",
        (
            F.coalesce(F.lit(vector_weight) / (F.lit(k) + F.col("rank_v")),
                       F.lit(0.0))
            + F.coalesce(F.lit(fulltext_weight) / (F.lit(k) + F.col("rank_f")),
                         F.lit(0.0))
        ).alias("score"),
    )
    return fused.orderBy(F.col("score").desc(), F.col("id"))


# ---------------------------------------------------------------------------
# Hydration (J5) + the full hybrid search
# ---------------------------------------------------------------------------

def hydrate_works(result_ids: DataFrame, nodes: dict[str, DataFrame],
                  edges: DataFrame) -> DataFrame:
    """J5 (search.py:235-266): authors / institutions (2-hop via
    AUTHORED x AFFILIATED_WITH) / topics / source per work, each as a
    sorted collect_set (determinism — SURVEY §2.5 A6)."""
    e = edges
    authored = e.filter(F.col("pred") == "AUTHORED").select(
        F.col("subj").alias("author_id"), F.col("obj").alias("work_id"))
    author_names = nodes["Author"].select(
        F.col("id").alias("author_id"), F.col("display_name"))
    w_authors = (
        result_ids.join(authored, result_ids["id"] == authored["work_id"])
        .join(author_names, "author_id")
        .groupBy(result_ids["id"].alias("id"))
        .agg(F.array_sort(F.collect_set("display_name")).alias("authors"))
    )
    affil = e.filter(F.col("pred") == "AFFILIATED_WITH").select(
        F.col("subj").alias("author_id"), F.col("obj").alias("inst_id"))
    inst_names = nodes["Institution"].select(
        F.col("id").alias("inst_id"), F.col("display_name"))
    w_insts = (
        result_ids.join(authored, result_ids["id"] == authored["work_id"])
        .join(affil, "author_id")
        .join(inst_names, "inst_id")
        .groupBy(result_ids["id"].alias("id"))
        .agg(F.array_sort(F.collect_set("display_name")).alias("institutions"))
    )
    topics = e.filter(F.col("pred") == "HAS_TOPIC").select(
        F.col("subj").alias("work_id"), F.col("obj").alias("topic_id"))
    topic_names = nodes["Topic"].select(
        F.col("id").alias("topic_id"), F.col("display_name"))
    w_topics = (
        result_ids.join(topics, result_ids["id"] == topics["work_id"])
        .join(topic_names, "topic_id")
        .groupBy(result_ids["id"].alias("id"))
        .agg(F.array_sort(F.collect_set("display_name")).alias("topics"))
    )
    pub_in = e.filter(F.col("pred") == "PUBLISHED_IN").select(
        F.col("subj").alias("work_id"), F.col("obj").alias("source_id"))
    source_names = nodes["Source"].select(
        F.col("id").alias("source_id"), F.col("display_name"))
    w_source = (
        result_ids.join(pub_in, result_ids["id"] == pub_in["work_id"])
        .join(source_names, "source_id")
        .groupBy(result_ids["id"].alias("id"))
        .agg(F.min("display_name").alias("source"))
    )
    works = nodes["Work"].select("id", "title", "publication_year", "doi")
    return (
        result_ids.join(works, "id", "left")
        .join(w_authors, "id", "left")
        .join(w_insts, "id", "left")
        .join(w_topics, "id", "left")
        .join(w_source, "id", "left")
    )


def hybrid_search(query: str, nodes: dict[str, DataFrame], edges: DataFrame,
                  limit: int = 10, rrf_k: int = RRF_K,
                  vector_weight: float = 1.0,
                  fulltext_weight: float = 1.0,
                  index: DataFrame | None = None,
                  score_round: int | None = None,
                  embedding_model: str | None = None,
                  allow_adhoc_index: bool = False) -> DataFrame:
    """Full reference-search-parity flow (search.py:43-84).

    ``index``: the persisted fulltext index table (work_fulltext_index
    materialized at import — D2) — REQUIRED on the production path.
    Rebuilding the index means a full corpus scan + two aggregations
    *per query*, so a silently-omitted index is a 100-TB footgun: pass
    ``allow_adhoc_index=True`` to opt into an explicit ad-hoc build
    (one-off exploration, pre-index graph dirs), otherwise omitting
    ``index`` raises.
    """
    if index is None and not allow_adhoc_index:
        raise ValueError(
            "hybrid_search requires the persisted fulltext index "
            "(write_graph(..., with_search_indexes=True) materializes "
            "it as <root>/index_fulltext). Rebuilding it ad hoc costs "
            "a full corpus scan per query; pass allow_adhoc_index=True "
            "to do that explicitly.")
    works = work_embedding_text(nodes["Work"])
    if "embedding" in nodes["Work"].columns:
        # reuse embeddings materialized at import time (M4) — the
        # vector index analog: no re-encoding per query
        embedded = works
    else:
        embedded = embed_text_column(works, "_embed_text",
                                     model_name=embedding_model)
    qvec = query_embedding(query, model_name=embedding_model)
    vec_leg = vector_topk(embedded, qvec, limit * OVERFETCH,
                          round_dp=score_round)
    if index is None:
        index = work_fulltext_index(nodes["Work"])
    ft_leg = fulltext_topk(index, query, limit * OVERFETCH,
                           round_dp=score_round)
    fused = rrf_fuse(vec_leg, ft_leg, k=rrf_k,
                     vector_weight=vector_weight,
                     fulltext_weight=fulltext_weight).limit(limit)
    hydrated = hydrate_works(fused.select("id", "score"), nodes, edges)
    # W5 (search.py:287): re-sort after hydration
    return hydrated.orderBy(F.col("score").desc(), F.col("id"))
