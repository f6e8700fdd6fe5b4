"""Deterministic synthetic Common-Crawl-style corpus of paper landing pages.

Generates the ``pages(url, warc_ts, html, text, lang)`` input table from
``BASELINE.json.input_hint`` (see FIXTURES.md §1), seeded and free of
wall-clock dependence. Each page encodes one Work mention: title, DOI,
year, type, authors (display name + ORCID), institutions (+ROR), venue
(+ISSN, publisher), topics, funders, and referenced-work DOIs.

Engineered properties (FIXTURES.md §1):
- **Alias rows**: ~15% of works appear under 1-2 extra urls with
  whitespace/case/accent title variants and author-name variants, and
  WITHOUT the DOI — these exercise MinHash/LSH blocking + TF-IDF
  linking + connected-components canonicalization.
- **Skew keys**: venue ``S0`` and institution ``I0`` appear on ~20% of
  pages (mega-entity hot keys for salted aggregation / AQE skew joins).
- **Degenerate rows**: pages with no extractable mentions and pages
  with missing fields.

The ground truth (work aliases -> canonical work) is retained in
:class:`World` so the oracle can emit exact canonical triples.
"""

from __future__ import annotations

import datetime as _dt
import random
from dataclasses import dataclass, field

_WORDS = (
    "neural deep graph sparse dense latent causal robust scalable "
    "bayesian quantum spectral convex stochastic adaptive hierarchical "
    "temporal spatial semantic syntactic generative adversarial "
    "federated distributed parallel streaming incremental online "
    "inference learning optimization estimation retrieval ranking "
    "clustering classification segmentation alignment translation "
    "summarization reasoning planning control perception embedding"
).split()

_FIRST = (
    "maria jose wei li anna john chen olga ivan sara noor kenji aiko "
    "pierre claire hugo emma lucas sofia mateo zoe omar lina"
).split()
_LAST = (
    "garcia smith wang li petrov ivanova tanaka sato dubois martin "
    "rossi bianchi silva santos kim park nguyen tran hassan ali"
).split()

_INST_KIND = ["University", "Institute", "Laboratory", "College", "Center"]
_CITIES = (
    "berlin paris tokyo madrid rome oslo cairo lima quito seoul hanoi "
    "vienna porto dublin prague zurich geneva boston austin denver"
).split()

_TYPES = ["journal-article", "book-chapter", "preprint", "dataset", "review"]
_LANGS = ["en", "en", "en", "de", "fr", "es"]
_TOPIC_NAMES = (
    "machine-learning information-retrieval graph-theory databases "
    "computational-linguistics computer-vision bioinformatics "
    "materials-science climate-modeling epidemiology"
).split()
_FUNDER_NAMES = (
    "national-science-fund european-research-council wellcome-trust "
    "alfred-sloan-foundation horizon-program"
).split()
_PUBLISHER_NAMES = ["acme-press", "scholarly-house", "open-pubs", "uni-press"]

_EPOCH = _dt.datetime(2024, 1, 1, tzinfo=_dt.timezone.utc)

_ACCENT_MAP = str.maketrans({"a": "á", "e": "é", "i": "í", "o": "ó", "u": "ú"})


@dataclass
class Author:
    id: str  # "A{n}"
    display_name: str
    orcid: str


@dataclass
class Institution:
    id: str  # "I{n}"
    display_name: str
    ror: str
    country_code: str


@dataclass
class Source:
    id: str  # "S{n}"
    display_name: str
    issn_l: str
    publisher_id: str


@dataclass
class Work:
    id: str  # "W{n}" — ground-truth canonical id
    title: str
    doi: str
    year: int
    type: str
    abstract: str
    author_ids: list[str]
    # per-author institution lists (reference over-generates the
    # cross-product anyway — importer.py:253-273)
    institution_ids: list[str]
    source_id: str
    topic_ids: list[str]
    funder_ids: list[str]
    referenced_work_ids: list[str] = field(default_factory=list)
    # refs that appear ONLY on alias pages (keyed by alias variant) —
    # these make entity linking load-bearing for triple recall: if an
    # alias page isn't linked back to its canonical work, its unique
    # CITES edges are lost.
    alias_extra_refs: dict[int, list[str]] = field(default_factory=dict)
    # False for "orphan-only" works: no canonical (DOI-bearing) page
    # exists; the pipeline must cluster the alias pages by fuzzy title
    # matching + connected components and mint a title-derived id.
    has_canonical: bool = True
    # raw titles as rendered on this work's pages (ground truth for
    # the oracle's deterministic title-winner rule).
    page_titles: list[str] = field(default_factory=list)


@dataclass
class Page:
    url: str
    warc_ts: _dt.datetime
    html: bytes
    text: str | None
    lang: str
    # ground truth (not part of the public pages schema)
    work_id: str | None
    is_alias: bool


@dataclass
class World:
    works: dict[str, Work]
    authors: dict[str, Author]
    institutions: dict[str, Institution]
    sources: dict[str, Source]
    topics: dict[str, str]  # id -> display_name
    funders: dict[str, str]
    publishers: dict[str, str]
    pages: list[Page]
    alias_truth: dict[str, str]  # alias page url -> canonical work id


def _title(rng: random.Random) -> str:
    n = rng.randint(4, 8)
    words = [rng.choice(_WORDS) for _ in range(n)]
    return " ".join(words).capitalize()


def _orcid(rng: random.Random) -> str:
    return "0000-%04d-%04d-%04d" % (
        rng.randint(1, 2),
        rng.randint(0, 9999),
        rng.randint(0, 9999),
    )


def _alias_title(title: str, variant: int, rng: random.Random) -> str:
    """Deterministic surface variants.

    Variants 0-2 normalize back to the canonical form (case,
    whitespace, accents — handled by ``textnorm.normalize_title``);
    variant 3 drops the last word, which only fuzzy matching
    (MinHash/LSH blocking + TF-IDF cosine) can recover.
    """
    if variant % 4 == 0:
        return title.upper()
    if variant % 4 == 1:
        return "  " + title.replace(" ", "  ") + " "
    if variant % 4 == 2:
        words = title.split(" ")
        i = rng.randrange(len(words))
        words[i] = words[i].translate(_ACCENT_MAP)
        return " ".join(words)
    words = title.split(" ")
    return " ".join(words[:-1]) if len(words) >= 5 else title.upper()


def _alias_author(name: str) -> str:
    """'maria garcia' -> 'M. Garcia' style initialism."""
    parts = name.split(" ")
    if len(parts) < 2:
        return name.title()
    return f"{parts[0][0].upper()}. {' '.join(p.title() for p in parts[1:])}"


def build_world(n_works: int = 200, seed: int = 42,
                filler_words: int = 0) -> World:
    """``filler_words`` appends that many words of non-mention body
    text per page — real Common-Crawl landing pages are tens of KB, so
    benchmarks use heavy pages (extraction cost dominates) while unit
    tests keep pages tiny. Filler never changes the triple set."""
    rng = random.Random(seed)
    n_authors = max(8, n_works // 2)
    n_insts = max(6, n_works // 8)
    n_sources = max(4, n_works // 20)

    authors = {}
    for i in range(n_authors):
        name = f"{rng.choice(_FIRST)} {rng.choice(_LAST)}"
        authors[f"A{i}"] = Author(f"A{i}", name, _orcid(rng))
    institutions = {}
    for i in range(n_insts):
        nm = f"{rng.choice(_CITIES).capitalize()} {rng.choice(_INST_KIND)} {i}"
        institutions[f"I{i}"] = Institution(
            f"I{i}", nm, "https://ror.org/%08x" % rng.getrandbits(32),
            rng.choice(["de", "fr", "jp", "us", "br", "kr"]),
        )
    publishers = {f"P{i}": _PUBLISHER_NAMES[i % len(_PUBLISHER_NAMES)] + f"-{i}"
                  for i in range(max(2, n_sources // 2))}
    sources = {}
    pub_keys = list(publishers)
    for i in range(n_sources):
        sources[f"S{i}"] = Source(
            f"S{i}",
            f"Journal of {rng.choice(_WORDS).capitalize()} {rng.choice(_WORDS).capitalize()} {i}",
            "%04d-%04d" % (rng.randint(0, 9999), rng.randint(0, 9999)),
            rng.choice(pub_keys),
        )
    topics = {f"T{i}": _TOPIC_NAMES[i % len(_TOPIC_NAMES)] for i in range(len(_TOPIC_NAMES))}
    funders = {f"F{i}": _FUNDER_NAMES[i % len(_FUNDER_NAMES)] for i in range(len(_FUNDER_NAMES))}

    works: dict[str, Work] = {}
    for i in range(n_works):
        wid = f"W{i}"
        n_auth = rng.randint(1, 4)
        auth_ids = rng.sample(list(authors), n_auth)
        inst_ids = set()
        for _ in auth_ids:
            # skew: mega-institution I0 on ~20% of author slots
            inst_ids.add("I0" if rng.random() < 0.2 else f"I{rng.randrange(n_insts)}")
        source_id = "S0" if rng.random() < 0.2 else f"S{rng.randrange(n_sources)}"
        refs = []
        if i > 0:
            for _ in range(rng.randint(0, 5)):
                refs.append(f"W{rng.randrange(i)}")
        refs = sorted(set(refs), key=lambda r: int(r[1:]))
        works[wid] = Work(
            id=wid,
            title=_title(rng),
            doi=f"10.{1000 + rng.randrange(9000)}/{wid.lower()}.{rng.randrange(10**6)}",
            year=rng.randint(1990, 2024),
            type=rng.choice(_TYPES),
            abstract=" ".join(rng.choice(_WORDS) for _ in range(rng.randint(20, 60))),
            author_ids=auth_ids,
            institution_ids=sorted(inst_ids, key=lambda s: int(s[1:])),
            source_id=source_id,
            topic_ids=sorted(rng.sample(list(topics), rng.randint(1, 3)),
                             key=lambda s: int(s[1:])),
            funder_ids=sorted(rng.sample(list(funders), rng.randint(0, 2)),
                              key=lambda s: int(s[1:])),
            referenced_work_ids=refs,
        )

    doi_of = {wid: w.doi for wid, w in works.items()}
    pages: list[Page] = []
    alias_truth: dict[str, str] = {}
    for i, (wid, w) in enumerate(works.items()):
        ts = _EPOCH + _dt.timedelta(seconds=rng.randrange(90 * 86400))
        lang = rng.choice(_LANGS)
        # ~5% of works are orphan-only (no DOI-bearing page at all) —
        # their pages must be clustered by fuzzy linking + connected
        # components, and a title-derived id minted.
        orphan_only = rng.random() < 0.05 and i > 0
        w.has_canonical = not orphan_only
        if w.has_canonical:
            url = f"https://papers.example.org/{wid.lower()}"
            html = render_page(w, authors, institutions, sources, publishers,
                               topics, funders, doi_of, alias_variant=None,
                               title_override=None, rng=rng,
                               filler_words=filler_words)
            pages.append(Page(url, ts, html, None, lang, wid, False))
            w.page_titles.append(w.title)
        # alias pages without the DOI: always for orphan-only works,
        # ~15% of canonical works
        if orphan_only or rng.random() < 0.15:
            n_alias = rng.randint(2, 3) if orphan_only else rng.randint(1, 2)
            first_variant = rng.randrange(4)
            for v in range(n_alias):
                variant = (first_variant + v) % 4
                # alias-only extra refs (to works already generated)
                if i > 0 and rng.random() < 0.8:
                    extra = sorted(
                        {f"W{rng.randrange(i)}" for _ in range(rng.randint(1, 2))},
                        key=lambda r: int(r[1:]),
                    )
                    w.alias_extra_refs[variant] = [
                        r for r in extra if r not in w.referenced_work_ids
                    ]
                title_v = _alias_title(w.title, variant, rng)
                aurl = f"https://mirror{v}.example.net/{wid.lower()}-{v}"
                ahtml = render_page(w, authors, institutions, sources,
                                    publishers, topics, funders, doi_of,
                                    alias_variant=variant,
                                    title_override=title_v, rng=rng,
                                    filler_words=filler_words)
                ats = ts + _dt.timedelta(seconds=rng.randrange(86400))
                pages.append(Page(aurl, ats, ahtml, None, lang, wid, True))
                alias_truth[aurl] = wid
                w.page_titles.append(title_v)
    # degenerate pages: no extractable mentions
    for d in range(max(2, n_works // 25)):
        url = f"https://noise.example.com/page-{d}"
        body = " ".join(rng.choice(_WORDS) for _ in range(30))
        html = (
            "<html><head><title>blog</title></head><body><p>%s</p>"
            "<script>var x=1;</script></body></html>" % body
        ).encode("utf-8")
        ts = _EPOCH + _dt.timedelta(seconds=rng.randrange(90 * 86400))
        pages.append(Page(url, ts, html, None, rng.choice(_LANGS), None, False))

    pages.sort(key=lambda p: p.url)
    return World(works, authors, institutions, sources, topics, funders,
                 publishers, pages, alias_truth)


def render_page(
    w: Work,
    authors: dict[str, Author],
    institutions: dict[str, Institution],
    sources: dict[str, Source],
    publishers: dict[str, str],
    topics: dict[str, str],
    funders: dict[str, str],
    doi_of: dict[str, str],
    alias_variant: int | None,
    title_override: str | None,
    rng: random.Random,
    filler_words: int = 0,
) -> bytes:
    """Templated paper landing page with citation meta tags.

    Canonical pages carry the DOI meta tag; alias pages omit it and
    surface title/author variants (the entity-linking challenge), plus
    alias-only extra references.
    """
    is_alias = alias_variant is not None
    title = title_override if title_override is not None else w.title
    metas = [f'<meta name="citation_title" content="{title}">']
    if not is_alias:
        metas.append(f'<meta name="citation_doi" content="{w.doi}">')
    metas.append(f'<meta name="citation_year" content="{w.year}">')
    metas.append(f'<meta name="citation_type" content="{w.type}">')
    for aid in w.author_ids:
        a = authors[aid]
        nm = _alias_author(a.display_name) if is_alias else a.display_name
        metas.append(f'<meta name="citation_author" content="{nm}">')
        metas.append(f'<meta name="citation_author_orcid" content="{a.orcid}">')
    for iid in w.institution_ids:
        inst = institutions[iid]
        metas.append(
            f'<meta name="citation_institution" content="{inst.display_name}">')
        metas.append(f'<meta name="citation_institution_ror" content="{inst.ror}">')
        metas.append(
            f'<meta name="citation_institution_country" content="{inst.country_code}">')
    src = sources[w.source_id]
    metas.append(f'<meta name="citation_journal_title" content="{src.display_name}">')
    metas.append(f'<meta name="citation_issn" content="{src.issn_l}">')
    metas.append(f'<meta name="citation_publisher" content="{publishers[src.publisher_id]}">')
    for tid in w.topic_ids:
        metas.append(f'<meta name="citation_topic" content="{topics[tid]}">')
    for fid in w.funder_ids:
        metas.append(f'<meta name="citation_funder" content="{funders[fid]}">')
    refs = list(w.referenced_work_ids)
    if is_alias:
        refs = refs + w.alias_extra_refs.get(alias_variant, [])
    for ref in refs:
        metas.append(f'<meta name="citation_reference" content="{doi_of[ref]}">')
    body = (
        f"<h1>{title}</h1><p class=\"abstract\">{w.abstract}</p>"
        f"<div>Published {w.year} in {src.display_name}.</div>"
    )
    if filler_words > 0:
        paras = []
        for _ in range(max(1, filler_words // 80)):
            paras.append(
                "<p>" + " ".join(rng.choice(_WORDS) for _ in range(80)) + "</p>"
            )
        body += "<div class=\"related\">" + "".join(paras) + "</div>"
    html = (
        "<html><head>\n" + "\n".join(metas) + "\n</head><body>"
        + body + "<script>track();</script></body></html>"
    )
    return html.encode("utf-8")


# ---------------------------------------------------------------------------
# Spark-side construction
# ---------------------------------------------------------------------------

def pages_dataframe(spark, world: World, num_partitions: int = 8):
    """pages(url, warc_ts, html, text, lang) as a Spark DataFrame."""
    from openalex_neo4j_spark.schemas import PAGES_SCHEMA

    rows = [(p.url, p.warc_ts, p.html, p.text, p.lang) for p in world.pages]
    return spark.createDataFrame(rows, PAGES_SCHEMA).repartition(num_partitions, "url")


def write_pages_parquet(world: World, path: str,
                        row_group_size: int = 2000,
                        num_files: int = 64) -> int:
    """Write pages directly with pyarrow (no JVM round-trip) — the
    fast path for large bench corpora. Sharded into ``num_files`` so
    the Spark scan parallelizes (a single compressed file would yield
    only size/maxPartitionBytes input splits)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ])
    os.makedirs(path, exist_ok=True)
    pages = world.pages
    n = len(pages)
    num_files = max(1, min(num_files, n))
    per = (n + num_files - 1) // num_files
    for i in range(num_files):
        chunk = pages[i * per:(i + 1) * per]
        if not chunk:
            break
        table = pa.Table.from_pydict(
            {
                "url": [p.url for p in chunk],
                "warc_ts": [p.warc_ts.replace(tzinfo=None) for p in chunk],
                "html": [p.html for p in chunk],
                "text": [p.text for p in chunk],
                "lang": [p.lang for p in chunk],
            },
            schema=schema,
        )
        pq.write_table(table, f"{path}/part-{i:05d}.parquet",
                       row_group_size=row_group_size)
    open(f"{path}/_SUCCESS", "w").close()
    return n
