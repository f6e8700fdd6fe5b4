"""Entity linking: MinHash/LSH-blocked candidates + broadcast alias
dictionary + TF-IDF cosine scoring + connected-components clustering.

Replaces the reference's identity mechanism — there, every entity
arrives with a global OpenAlex id and dedup is a dict insert
(importer.py:100-104) / Neo4j ``MERGE`` (neo4j_client.py:246-252).
Web-page mentions have no global id: DOI-bearing mentions are
authoritative ("canonical"), DOI-less mentions ("orphans") must be
linked by title similarity.

Pipeline (all DataFrame ops):

1. **Collapse to title groups.** Mentions sharing a normalized title
   are one group (a single hash aggregation — no pairwise work, no
   CC). At web scale this shrinks the linking problem from #mentions
   to #distinct-titles before anything expensive runs.
2. **Broadcast alias dictionary**: groups containing a DOI mention are
   canonical (group key = min DOI key — deterministic). Orphan groups
   that exactly share a canonical title are already linked by (1).
3. **MinHash/LSH blocking** over the *remaining orphan group titles*:
   word-3-shingles -> 16 md5 min-hashes -> 8 bands of 2 -> band-bucket
   join against all group titles.
4. **TF-IDF cosine** over title tokens scores candidate group pairs;
   pairs >= threshold with compatible publication years become fuzzy
   edges.
5. **Connected components** (hash-to-min) over the *group graph* —
   orders of magnitude smaller than the mention graph — then each
   component gets a cluster id: min canonical DOI key, else
   ``title:<min norm_title>`` (the mint the oracle reproduces).

Scale notes: stages 3-5 touch only orphan groups and their candidates;
md5-based signatures are engine-stable (Spark/DuckDB/Python) so resume
runs reproduce identical blocking decisions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from openalex_neo4j_spark import ids
from openalex_neo4j_spark.operators.cc import connected_components_auto
from openalex_neo4j_spark.session import ckpt

NUM_HASHES = 16
BAND_SIZE = 2
COSINE_THRESHOLD = 0.60
#: broadcast the tid->cluster_id map into the final mention join when
#: its ESTIMATED payload fits; larger corpora take the shuffle-join
#: path. Cluster ids are strings (min canon_key or 'title:<norm
#: title>', potentially hundreds of bytes), so a row count alone
#: cannot bound the map. Estimated as rows * (avg id length + key/row
#: overhead) from the same single driver round-trip that counts
#: groups; at >= 56 bytes a row it admits at most ~4.8M groups.
BROADCAST_CLUSTER_MAP_MAX_BYTES = 256 << 20
_BROADCAST_ROW_OVERHEAD = 56  # tid long + UTF8String + hash-relation entry


def _minhash_bands(titles: DataFrame, extra_cols: list[str] | None = None
                   ) -> DataFrame:
    """(t, [extra...], band_key) for a (t: norm_title) frame —
    MinHash banded for LSH; band_key is a fixed-width long hashing
    (band index, band signatures).

    Hash = native ``xxhash64``. The engine-stable md5 MinHash lives in
    operators/dedup.py where the DuckDB-oracle contract needs it;
    linking only needs deterministic blocking, which xxhash64 gives.

    Shape: row-local shingle array (``transform`` over a 0-based
    ``sequence`` of shingle starts, out-of-range words null via ``get``
    and skipped by ``concat_ws``) -> explode -> 16 per-seed hash
    columns -> groupBy min. ZERO shuffles before the signature
    aggregation, and nothing wider than the (t, extras) group row ever
    enters an exchange. Two earlier shapes both lost to this one:
    (a) nested ``transform``/``array_min`` lambdas computing the whole
    signature in one projection — 10-30x slower at 300k+ titles
    (higher-order functions are interpreted per element, and
    CollapseProject re-evaluated the shingle construction once per
    seed inside each ``array_min`` lambda); (b) posexplode + window
    ``lead`` shingling — all-codegen, but the window shuffled the full
    exploded WORD stream with the title string + extras on every row
    (~10x the group count, the widest exchange in linking), then paid
    a second distinct shuffle that the ``min`` aggregation makes
    redundant (duplicate shingles cannot change a min). Here the one
    interpreted ``transform`` builds each shingle exactly once per
    row; every downstream operator (explode, xxhash64, partial-agg
    min) is codegen."""
    extra_cols = extra_cols or []
    # Expressions below are batched SQL strings (selectExpr/F.expr):
    # the 16-hash/8-band Column composition cost ~0.3s of py4j round
    # trips per build (round-6 construction audit) — pure driver time.
    # The expression trees are identical to the previous Column forms
    # (including the INT-typed band literal fed to xxhash64 — a LONG
    # literal would change every band hash).
    #
    # 0-based shingle starts 0..greatest(n-3, 0): full 3-word windows,
    # or the whole (short) title when n < 3 — bit-identical shingle
    # strings to the window/lead formulation (verified on fixtures)
    shingle_arr = (
        "transform(sequence(0, greatest(size(split(t, ' ')) - 3, 0)),"
        " i -> concat_ws(' ', get(split(t, ' '), i),"
        " get(split(t, ' '), i + 1), get(split(t, ' '), i + 2)))"
    )
    # null titles produce no shingles (the explode of a null word array
    # dropped them in the window formulation too — without the filter,
    # size(null)=null would make every null-t row emit one '' shingle
    # and collapse all null-title groups into one LSH bucket)
    shingled = titles.filter("t IS NOT NULL").selectExpr(
        "t", *extra_cols, f"explode({shingle_arr}) AS _sh")
    sig = (
        shingled.selectExpr("t", *extra_cols, *[
            f"xxhash64(concat_ws('|', '{seed}', _sh)) AS _h{seed}"
            for seed in range(NUM_HASHES)
        ])
        .groupBy("t", *extra_cols)
        .agg(*[F.expr(f"min(_h{s}) AS _s{s}") for s in range(NUM_HASHES)])
    )
    # band key = ONE fixed-width long: xxhash64(band index, both
    # band signatures). The string concat variant ("<s0>|<s1>",
    # 15-40 chars) roughly doubled the banding checkpoint and the
    # candidate self-join shuffle bytes — and on a memory-bandwidth-
    # limited host the wide-shuffle stages are exactly where marginal
    # cores stop helping. A cross-band hash collision only ADDs a
    # candidate pair, which TF-IDF scoring then rejects — blocking
    # stays a recall heuristic either way.
    band_exprs = ", ".join(
        f"xxhash64({b}, _s{b * BAND_SIZE}, _s{b * BAND_SIZE + 1})"
        for b in range(NUM_HASHES // BAND_SIZE)
    )
    return sig.selectExpr(
        "t", *extra_cols, f"explode(array({band_exprs})) AS band_key")


def _tfidf_weights(titles: DataFrame, only_tids: DataFrame,
                   n_docs: int) -> DataFrame:
    """(tid, tok, w): TF-IDF weights over distinct group titles —
    norms are NOT attached; the caller derives (tid, nrm) from the
    checkpointed weight frame and applies them AFTER the pair-dot
    aggregation via broadcast joins. Carrying nrm through the
    exploded pair-token shuffle (the widest in linking) costs
    8 bytes x |pairs| x |tokens| twice; the norm table itself is tiny
    (one double per candidate tid).

    Input: (tid, t). Tokens are hashed to longs as well, so the
    downstream scoring joins shuffle only fixed-width values.

    ``only_tids``: document frequencies stay GLOBAL (corpus-wide IDF
    semantics over ``n_docs`` titles), but per-doc weights/norms are
    computed only for the named tids — the candidate set is orders of
    magnitude smaller than the corpus, so the idf-join + norm
    aggregation shrink accordingly.
    """
    tf = (
        titles.select(
            "tid",
            F.explode(F.split("t", " ")).alias("tok_s"),
        )
        .filter(F.col("tok_s") != "")
        .select("tid", F.xxhash64("tok_s").alias("tok"))
        .groupBy("tid", "tok")
        .agg(F.count("*").alias("tf"))
    )
    # tf rows are unique on (tid, tok) — plain count IS the doc freq
    df_tok = tf.groupBy("tok").agg(F.count("*").alias("df"))
    tf = tf.join(only_tids, "tid", "left_semi")
    w = tf.join(df_tok, "tok").withColumn(
        "w",
        F.col("tf")
        * (F.log(F.lit(float(n_docs + 1)) / (F.col("df") + 1)) + F.lit(1.0)),
    ).select("tid", "tok", "w", "df")
    return w


def link_mentions(mentions: DataFrame) -> DataFrame:
    """Assign every mention a cluster id.

    Input: the MENTION_SCHEMA DataFrame (url unique).
    Output: mentions + ``work_key`` (canonical cluster id, never null;
    DOI mentions always keep their own DOI key).

    Shuffle-byte discipline: all hot joins are keyed by ``tid``, an
    8-byte xxhash64 surrogate of the normalized title, instead of the
    ~50-char title string (5-10x fewer shuffled key bytes at scale);
    the string is carried only where an output needs it (the minted
    ``title:<min norm_title>`` cluster ids and the final mention map).
    """
    # canonical key of a DOI-bearing mention (null for an orphan)
    m = mentions.withColumn("work_key", ids.work_id_col("doi"))
    tid = F.xxhash64(F.col("norm_title"))

    # (1)+(2) exact grouping + canonical keys, one aggregation.
    # Project before grouping: localCheckpoint materializes the plan
    # without Catalyst column pruning, so the projection must be
    # explicit or the full mention payload rides through the shuffle.
    grp = (
        m.select(tid.alias("tid"), "norm_title", "work_key",
                 "publication_year")
        .groupBy("tid")
        .agg(
            F.min("norm_title").alias("norm_title"),
            F.min("work_key").alias("canon_key"),
            F.min("publication_year").alias("gyear"),
        )
    )
    grp = ckpt(grp, eager=False)

    # one driver round-trip answers both "any orphans?" and the
    # TF-IDF document count (two separate actions otherwise — driver
    # latency is the core-count-independent term in the scaling bench)
    _counts = grp.agg(
        F.count("*").alias("n"),
        F.count(F.when(F.col("canon_key").isNull(), 1)).alias("n_orph"),
        # avg cluster-id length for the broadcast byte estimate below
        # (cluster_id = canon_key, else 'title:' + norm_title)
        F.avg(F.length(F.coalesce("canon_key", ids.title_id_col(
            "norm_title")))).alias("idlen"),
    ).collect()[0]
    n_groups, n_orphans = _counts["n"], _counts["n_orph"]
    est_map_bytes = int(
        n_groups * (float(_counts["idlen"] or 0) + _BROADCAST_ROW_OVERHEAD))

    comp_map = None
    if n_orphans > 0:
        # (3) LSH candidates: one banding pass over all group titles
        # (orphans flagged); orphan rows join against the full set.
        # gyear rides along so the year-compatibility predicate (a
        # fuzzy edge needs equal-or-unknown publication years) applies
        # HERE, before TF-IDF scoring — it can only drop pairs the
        # post-scoring filter would drop anyway, and it shrinks the
        # scoring double-join (the widest shuffle in linking) instead
        # of paying two scored-x-years repair joins afterwards.
        all_bands = _minhash_bands(
            grp.select(F.col("norm_title").alias("t"), F.col("tid"),
                       F.col("canon_key").isNull().alias("is_orphan"),
                       F.col("gyear")),
            extra_cols=["tid", "is_orphan", "gyear"],
        ).drop("t")
        all_bands = ckpt(all_bands)
        orphan_bands = all_bands.filter(F.col("is_orphan"))
        cand = (
            orphan_bands.alias("o")
            .join(
                all_bands.alias("c"),
                (F.col("o.band_key") == F.col("c.band_key"))
                & (F.col("o.tid") != F.col("c.tid"))
                & (F.col("o.gyear").isNull() | F.col("c.gyear").isNull()
                   | (F.col("o.gyear") == F.col("c.gyear"))),
            )
            .select(
                F.least(F.col("o.tid"), F.col("c.tid")).alias("ta"),
                F.greatest(F.col("o.tid"), F.col("c.tid")).alias("tb"),
            )
            .distinct()
        )
        # Canonical-canonical fusion (DOI identity is authoritative —
        # two DOI groups must never merge) cannot occur by
        # construction: the left side of the band join is filtered to
        # orphans, so every candidate pair has >= 1 orphan endpoint.
        # CC then unions {orphan,canonical} pairs, and the cluster-id
        # mint below picks min(canon_key) — a component can absorb
        # many canonicals only via orphan bridges, same as the
        # reference's exact-title dict merge. (An earlier revision
        # paid a 3-stage semi/anti-join chain here to drop
        # both-canonical pairs; the filter was provably empty.)
        # checkpoint: cand feeds cand_tids and the scoring join --
        # without this the LSH banding DAG re-executes
        cand = ckpt(cand, eager=False)

        # (4) TF-IDF cosine over candidate title pairs (only longs +
        # doubles move through the scoring shuffles).
        # ONE reference to cand (explode of both endpoints), not a
        # union of two selects: under AQE the lazy ckpt above already
        # ran the band self-join's shuffle stages on this thread, and
        # its last stage runs in the first consuming job (the weights
        # ckpt below), where two references would both compute it.
        cand_tids = (
            cand.select(F.explode(F.array("ta", "tb")).alias("tid"))
            .distinct()
        )
        # checkpoint: wa/wb below are two references to this plan in
        # the same scoring job — unmaterialized, each branch would
        # recompute the whole TF-IDF tree (tf explode over every title
        # included) once
        weights = ckpt(_tfidf_weights(
            grp.select(F.col("tid"), F.col("norm_title").alias("t")),
            only_tids=cand_tids, n_docs=n_groups))
        # norms from the CHECKPOINTED weights (a plan on the pre-ckpt
        # tree would re-run the whole TF-IDF DAG a second time)
        norms = weights.groupBy("tid").agg(
            F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm"))
        # tokens with global df == 1 live in exactly one title group
        # and can never appear on BOTH sides of a pair — they affect
        # norms (above) but not dot products, so the join stream drops
        # them. On real web corpora rare tokens are the long tail of
        # the vocabulary; this is a large cut of the widest shuffle.
        shared = weights.filter(F.col("df") >= 2)
        wa = shared.select(F.col("tid").alias("ta"), "tok",
                           F.col("w").alias("w_a"))
        wb = shared.select(F.col("tid").alias("tb"), "tok",
                           F.col("w").alias("w_b"))
        dots = (
            cand.join(wa, "ta")
            .join(wb, ["tb", "tok"])
            .groupBy("ta", "tb")
            .agg(F.sum(F.col("w_a") * F.col("w_b")).alias("dot"))
        )
        # norms join AFTER the dot aggregation, as broadcasts (one
        # double per candidate tid — MBs, not the GB-scale exploded
        # pair-token stream the nrm columns used to ride through)
        scored = (
            dots
            .join(F.broadcast(norms.select(F.col("tid").alias("ta"),
                                           F.col("nrm").alias("n_a"))), "ta")
            .join(F.broadcast(norms.select(F.col("tid").alias("tb"),
                                           F.col("nrm").alias("n_b"))), "tb")
            .select("ta", "tb",
                    (F.col("dot") / (F.col("n_a") * F.col("n_b")))
                    .alias("cosine"))
        )
        # year compatibility was enforced at candidate generation —
        # every surviving pair is already year-compatible.
        # Edge endpoints stay 8-byte LONG tids end-to-end: the CC
        # representative is arbitrary-but-deterministic either way
        # (cluster ids below come from canon_key/norm_title minima,
        # never from the component id), and long keys halve the
        # driver-serial Arrow collect + union-find + re-upload on the
        # driver CC path — pure Amdahl time in the scaling legs — while
        # the distributed path shuffles fixed-width keys.
        fuzzy_edges = (
            scored.filter(F.col("cosine") >= COSINE_THRESHOLD)
            .select(F.col("ta").alias("src"), F.col("tb").alias("dst"))
        )
        fuzzy_edges = ckpt(fuzzy_edges, eager=False)

        # (5) connected components over the (tiny) group graph. The
        # component id is an arbitrary-but-deterministic representative
        # tid; semantic cluster ids below come from canon_key /
        # norm_title minima, never from the component id itself.
        # connected_components_auto probes with a count() then Arrow-
        # collects the driver path (returns None on an empty edge set);
        # see its docstring for why the probe is NOT fused into the
        # collect via limit() — CollectLimit forfeits the Arrow path.
        cc = connected_components_auto(fuzzy_edges)
        if cc is not None:
            comp_map = cc.select(
                F.col("node").alias("tid"),
                F.col("component").cast("long").alias("component"))

    if comp_map is not None:
        grp = grp.join(comp_map, "tid", "left")
    else:
        grp = grp.withColumn("component", F.lit(None).cast("long"))
    grp = grp.withColumn(
        "component", F.coalesce(F.col("component"), F.col("tid")))

    # cluster id per component: min canonical DOI key, else minted
    # title id. A window over component (one shuffle, unbounded frame)
    # instead of groupBy + join-back — the join-back costs a second
    # shuffle or a driver-built broadcast of the whole cluster table.
    comp_w = Window.partitionBy("component")
    tid_to_cluster = grp.select(
        "tid",
        F.coalesce(
            F.min("canon_key").over(comp_w),
            ids.title_id_col(F.min("norm_title").over(comp_w)),
        ).alias("cluster_id"),
    )
    # The final map-back join is against the FULL mention payload
    # (title/abstract/author arrays — the heaviest rows in the
    # pipeline). tid_to_cluster sits behind a window over a ckpt'd
    # plan, so Catalyst has no size estimate and plans a sort-merge
    # join: the whole text-heavy mention table gets serialized through
    # a shuffle just to pick up one ~50-byte cluster_id per row. AQE's
    # runtime SMJ->BHJ conversion still WRITES the probe-side shuffle
    # (localShuffleReader only skips the network read). n_groups is
    # already known from the counts collect above, so broadcast the
    # cluster map outright when it provably fits (one (long, short
    # string) row per title group), eliminating the mention-table
    # exchange entirely; beyond the cap (cluster-scale corpora where
    # the map itself is GBs) fall back to the shuffle join.
    if est_map_bytes <= BROADCAST_CLUSTER_MAP_MAX_BYTES:
        tid_to_cluster = F.broadcast(tid_to_cluster)

    out = (
        m.withColumn("tid", tid)
        .join(tid_to_cluster, "tid", "left")
        .withColumn(
            "work_key",
            # DOI mentions keep their own identity; orphans take the cluster
            F.coalesce(F.col("work_key"), F.col("cluster_id"),
                       ids.title_id_col("norm_title")),
        )
        .drop("cluster_id", "tid")
    )
    return out
