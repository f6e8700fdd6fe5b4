"""Plain-Python reference extractor: the ground-truth triple set.

Plays the role the reference implementation's ``from_openalex`` parsers
+ ``OpenAlexImporter`` play (models.py:43-140, importer.py:36-348):
a small, single-process, obviously-correct program whose output triple
set the distributed Spark pipeline is scored against (P/R >= 0.95,
target 1.0 on clean fixtures).

It derives truth from the :class:`~openalex_neo4j_spark.corpus.World`
model directly — including the ground-truth alias->canonical mapping —
so it is a genuinely independent code path from the Spark extraction +
linking stages.

Semantics encoded here (and therefore required of the pipeline):
- Node **properties are first-wins** with the DOI-bearing (canonical)
  page as the deterministic winner — analog of the reference's
  first-wins dict insert (importer.py:100-104) made deterministic per
  SURVEY.md §2.5 A1.
- **Edges are the union across all pages linked to an entity** —
  alias pages contribute their alias-only references (our web-KG
  design choice; exercised by recall).
- AFFILIATED_WITH is the **cross-product quirk**: every author of a
  work x every institution on the work, pair-deduped
  (importer.py:253-273).
- Edge endpoint **existence filter**: edges only when both endpoints
  are known entities (importer.py:242 etc. — closed world).
- ``type_label`` via camel-case derivation (neo4j_client.py:11-31).
"""

from __future__ import annotations

from openalex_neo4j_spark import ids
from openalex_neo4j_spark.corpus import Work, World, _alias_author
from openalex_neo4j_spark.textnorm import camel_case_label, normalize_title

Triple = tuple[str, str, str]


def work_node_id(w: Work) -> str:
    """Canonical node id: the DOI when a canonical page exists, else a
    deterministic title-derived id (min normalized title across the
    work's pages) — the rule the pipeline's connected-components
    canonicalization must reproduce."""
    if w.has_canonical:
        return ids.work_id(w.doi)
    return ids.title_id(min(normalize_title(t) for t in w.page_titles))


def work_title_winner(w: Work) -> str:
    """Deterministic first-wins analog (importer.py:100-104, made
    deterministic per SURVEY §2.5 A1): the DOI page's title when one
    exists; else among titles whose normalized form is the cluster
    minimum, the lexicographically smallest raw title."""
    if w.has_canonical:
        return w.title
    min_norm = min(normalize_title(t) for t in w.page_titles)
    return min(t for t in w.page_titles if normalize_title(t) == min_norm)


def oracle_triples(world: World) -> set[Triple]:
    triples: set[Triple] = set()
    known_work_ids = {work_node_id(w) for w in world.works.values()}
    mentioned_authors = {a for w in world.works.values() for a in w.author_ids}
    mentioned_insts = {i for w in world.works.values() for i in w.institution_ids}
    # authors whose name appears in initialism form on some alias page
    aliased_authors = {
        a
        for w in world.works.values()
        if (not w.has_canonical) or len(w.page_titles) > 1
        for a in w.author_ids
    }

    # --- node property triples (deterministic-winner rules)
    for w in world.works.values():
        wid = work_node_id(w)
        triples.add((wid, "label", "Work"))
        triples.add((wid, "title", work_title_winner(w)))
        triples.add((wid, "publication_year", str(w.year)))
        triples.add((wid, "type", w.type))
        triples.add((wid, "type_label", camel_case_label(w.type)))
    for a in world.authors.values():
        if a.id not in mentioned_authors:
            continue
        aid = ids.author_id(a.orcid)
        triples.add((aid, "label", "Author"))
        names = {a.display_name}
        if a.id in aliased_authors:
            names.add(_alias_author(a.display_name))
        triples.add((aid, "display_name", min(names)))
    for inst in world.institutions.values():
        if inst.id not in mentioned_insts:
            continue
        iid = ids.institution_id(inst.ror)
        triples.add((iid, "label", "Institution"))
        triples.add((iid, "display_name", inst.display_name))
        triples.add((iid, "country_code", inst.country_code))
    mentioned_sources = {w.source_id for w in world.works.values()}
    for s in world.sources.values():
        if s.id not in mentioned_sources:
            continue
        sid = ids.source_id(s.issn_l)
        triples.add((sid, "label", "Source"))
        triples.add((sid, "display_name", s.display_name))
    mentioned_topics = {t for w in world.works.values() for t in w.topic_ids}
    for tid_key in mentioned_topics:
        name = world.topics[tid_key]
        tid = ids.topic_id(name)
        triples.add((tid, "label", "Topic"))
        triples.add((tid, "display_name", name))
    mentioned_funders = {f for w in world.works.values() for f in w.funder_ids}
    for fid_key in mentioned_funders:
        name = world.funders[fid_key]
        fid = ids.funder_id(name)
        triples.add((fid, "label", "Funder"))
        triples.add((fid, "display_name", name))
    mentioned_pubs = {world.sources[s].publisher_id for s in mentioned_sources}
    for pid_key in mentioned_pubs:
        name = world.publishers[pid_key]
        pid = ids.publisher_id(name)
        triples.add((pid, "label", "Publisher"))
        triples.add((pid, "display_name", name))

    # --- edges
    for w in world.works.values():
        wid = work_node_id(w)
        author_node_ids = [ids.author_id(world.authors[a].orcid) for a in w.author_ids]
        inst_node_ids = [ids.institution_id(world.institutions[i].ror)
                         for i in w.institution_ids]
        for aid in author_node_ids:
            triples.add((aid, "AUTHORED", wid))
            # cross-product quirk (importer.py:253-273)
            for iid in inst_node_ids:
                triples.add((aid, "AFFILIATED_WITH", iid))
        sid = ids.source_id(world.sources[w.source_id].issn_l)
        triples.add((wid, "PUBLISHED_IN", sid))
        # CITES: union of canonical refs and alias-page-only refs.
        # Pages cite by raw DOI, so a cited work resolves only when it
        # has a DOI-bearing page; endpoint-existence filtered
        # (importer.py:293 — closed world).
        all_refs = set(w.referenced_work_ids)
        for extra in w.alias_extra_refs.values():
            all_refs.update(extra)
        for ref in all_refs:
            ref_w = world.works[ref]
            if not ref_w.has_canonical:
                continue
            ref_id = ids.work_id(ref_w.doi)
            if ref_id in known_work_ids:
                triples.add((wid, "CITES", ref_id))
        for t in w.topic_ids:
            triples.add((wid, "HAS_TOPIC", ids.topic_id(world.topics[t])))
        for f in w.funder_ids:
            triples.add((wid, "FUNDED_BY", ids.funder_id(world.funders[f])))
    for s_key in mentioned_sources:
        s = world.sources[s_key]
        triples.add((
            ids.source_id(s.issn_l),
            "PUBLISHED_BY",
            ids.publisher_id(world.publishers[s.publisher_id]),
        ))

    # --- derived count properties (mirrors pipeline.enrich_node_counts;
    # reference models persist works_count / cited_by_count —
    # models.py:23-41, 168-175, 203-211, 241-250, 317-323). Derived from
    # the final edge set, exactly like the pipeline derives them.
    cites_in: dict[str, int] = {}
    authored_pairs: set[tuple[str, str]] = set()
    pub_in_pairs: set[tuple[str, str]] = set()
    pub_by: dict[str, str] = {}
    labels: dict[str, set[str]] = {}
    for s, p, o in triples:
        if p == "CITES":
            cites_in[o] = cites_in.get(o, 0) + 1
        elif p == "AUTHORED":
            authored_pairs.add((s, o))
        elif p == "PUBLISHED_IN":
            pub_in_pairs.add((s, o))
        elif p == "PUBLISHED_BY":
            pub_by[s] = o
        elif p == "label":
            labels.setdefault(o, set()).add(s)
    for wid in labels.get("Work", ()):
        triples.add((wid, "cited_by_count", str(cites_in.get(wid, 0))))
    a_works: dict[str, int] = {}
    a_cited: dict[str, int] = {}
    for a, w_ in authored_pairs:
        a_works[a] = a_works.get(a, 0) + 1
        a_cited[a] = a_cited.get(a, 0) + cites_in.get(w_, 0)
    for aid in labels.get("Author", ()):
        triples.add((aid, "works_count", str(a_works.get(aid, 0))))
        triples.add((aid, "cited_by_count", str(a_cited.get(aid, 0))))
    inst_works: dict[str, int] = {}
    for w in world.works.values():
        for i in set(w.institution_ids):
            iid = ids.institution_id(world.institutions[i].ror)
            inst_works[iid] = inst_works.get(iid, 0) + 1
    for iid in labels.get("Institution", ()):
        triples.add((iid, "works_count", str(inst_works.get(iid, 0))))
    src_works: dict[str, int] = {}
    p_works: dict[str, int] = {}
    for w_, s_ in pub_in_pairs:
        src_works[s_] = src_works.get(s_, 0) + 1
        pub = pub_by.get(s_)
        if pub is not None:
            p_works[pub] = p_works.get(pub, 0) + 1
    for sid in labels.get("Source", ()):
        triples.add((sid, "works_count", str(src_works.get(sid, 0))))
    for pid in labels.get("Publisher", ()):
        triples.add((pid, "works_count", str(p_works.get(pid, 0))))
    return triples


def precision_recall(
    predicted: set[Triple], truth: set[Triple]
) -> tuple[float, float]:
    if not predicted:
        return (0.0, 0.0 if truth else 1.0)
    tp = len(predicted & truth)
    return (tp / len(predicted), tp / len(truth) if truth else 1.0)
