"""The id scheme's two engines agree: every Python id function in
``ids`` and its Column twin map the same input to the same id."""

import random

from pyspark.sql import types as T

from openalex_neo4j_spark import ids

KINDS = ("work", "title", "author", "institution", "source", "topic",
         "funder", "publisher")
ALPHABET = " \t\n\r\x0b\x0c\x1c\xa0　/.-aZ09"
NAMED = ["https://ror.org/abc/", "///", "https://ror.org/", "\tabc\n", "",
         None, "deep \t learning"]


def test_whitespace_is_what_str_isspace_says():
    assert ids.WHITESPACE == "".join(
        c for c in map(chr, range(0x110000)) if c.isspace())
    assert len(ids.WHITESPACE) == 29


def test_python_and_column_ids_agree(spark):
    rng = random.Random(14)
    values = NAMED + ["".join(rng.choice(ALPHABET)
                              for _ in range(rng.randint(1, 8)))
                      for _ in range(400)]
    df = spark.createDataFrame([(v,) for v in values],
                               T.StructType([T.StructField("v", T.StringType())]))
    rows = df.select("v", *[getattr(ids, f"{k}_id_col")("v").alias(k)
                            for k in KINDS]).collect()
    assert len(rows) == len(values)
    for r in rows:
        for k in KINDS:
            assert r[k] == getattr(ids, f"{k}_id")(r["v"]), (k, r["v"])


def _page(i: int, orcid: str, ror: str, topic: str):
    metas = {"title": f"Hostile identifiers paper {i}", "doi": f"10.1/h{i}",
             "author": f"Author {i}", "author_orcid": orcid,
             "institution": f"Institute {i}", "institution_ror": ror,
             "topic": topic}
    html = "<html><head>" + "".join(
        f'<meta name="citation_{k}" content="{v}">' for k, v in metas.items()
    ) + "</head><body></body></html>"
    return (f"https://example.org/h{i}", None, html.encode(), None, None)


def test_build_ids_match_python_ids_on_padded_values(spark):
    """Trailing-slash ROR urls and tab-padded ORCIDs and topics get the
    ids the Python scheme gives the raw values, and two institutions
    whose urls end in '/' stay two nodes."""
    from openalex_neo4j_spark.pipeline import build_graph
    from openalex_neo4j_spark.schemas import PAGES_SCHEMA

    raw = [("\t0000-0001-0000-0001\n", "https://ror.org/abc/",
            "\tDeep \t Learning\n"),
           ("0000-0002-0000-0002\t", "https://ror.org/xyz/", "graphs\t")]
    pages = spark.createDataFrame(
        [_page(i, *r) for i, r in enumerate(raw)], PAGES_SCHEMA)
    g = build_graph(pages)

    def node_ids(label):
        return {r["id"] for r in g.nodes[label].select("id").collect()}
    assert node_ids("Author") == {ids.author_id(o) for o, _, _ in raw}
    assert node_ids("Institution") == {ids.institution_id(r)
                                       for _, r, _ in raw}
    assert node_ids("Institution") == {"ror:abc", "ror:xyz"}
    assert node_ids("Topic") == {ids.topic_id(t) for _, _, t in raw}
    edges = {tuple(r) for r in g.edges.collect()}
    for o, r, t in raw:
        assert (ids.author_id(o), "AFFILIATED_WITH",
                ids.institution_id(r)) in edges
