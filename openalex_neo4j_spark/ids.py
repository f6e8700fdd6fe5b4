"""Canonical entity-ID scheme, shared by the oracle and the Spark pipeline.

The reference keys every entity by its OpenAlex ID (``W123``/``A45``…,
normalized by ``extract_openalex_id`` — models.py:7-20). Web pages have
no OpenAlex IDs, so the canonical key is the strongest persistent
identifier each entity type carries:

=============  =======================================
Work           ``doi:<doi lowercased>``, else
               ``title:<min normalized title of its cluster>``
Author         ``orcid:<orcid>``
Institution    ``ror:<trailing path segment of ROR url>``
Source         ``issn:<issn_l>``
Topic          ``topic:<name slug>``
Funder         ``funder:<name slug>``
Publisher      ``publisher:<name slug>``
=============  =======================================

Each id has two forms: a Python function over one value (the oracle's)
and, beside it, its Column twin (``*_col``, the build's JVM
expression). Both return None/null when the identifier is absent,
mirroring the reference's lenient parsing (models.py:46-60), and the
twins match the Python functions value for value: whitespace is what
``str.isspace`` says it is (``WHITESPACE``), not Spark's space-only
``trim`` or Java's ASCII-only ``\\s``.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from openalex_neo4j_spark.textnorm import extract_id

#: every character ``str.isspace`` (so ``str.strip``/``str.split``) treats
#: as whitespace; none lies above U+3000
WHITESPACE = "".join(c for c in map(chr, range(0x3001)) if c.isspace())
_WS_RUN = "[" + "".join(f"\\u{ord(c):04x}" for c in WHITESPACE) + "]+"


def strip_col(col) -> Column:
    """``str.strip()`` as a Column."""
    return F.trim(col, F.lit(WHITESPACE))


def _prefixed(prefix: str, value: Column) -> Column:
    """``prefix + value``, null when ``value`` is null or empty."""
    return F.when(value != "", F.concat(F.lit(prefix), value))


def _slug(name: str | None) -> str | None:
    # split() drops outer whitespace and splits on every inner run
    return "-".join((name or "").lower().split()) or None


def _slug_col(name) -> Column:
    return F.regexp_replace(F.lower(strip_col(name)), _WS_RUN, "-")


def work_id(doi: str | None) -> str | None:
    return "doi:" + doi.strip().lower() if doi and doi.strip() else None


def work_id_col(doi) -> Column:
    return _prefixed("doi:", F.lower(strip_col(doi)))


def title_id(norm_title: str | None) -> str | None:
    """Id minted for a work cluster with no DOI page, from the minimum
    normalized title of the cluster."""
    return None if norm_title is None else "title:" + norm_title


def title_id_col(norm_title) -> Column:
    return F.concat(F.lit("title:"), norm_title)


def author_id(orcid: str | None) -> str | None:
    return "orcid:" + orcid.strip() if orcid and orcid.strip() else None


def author_id_col(orcid) -> Column:
    return _prefixed("orcid:", strip_col(orcid))


def institution_id(ror: str | None) -> str | None:
    tail = extract_id(ror)
    return ("ror:" + tail) if tail else None


def institution_id_col(ror) -> Column:
    # extract_id: strip, then the segment after the last '/' once
    # trailing slashes are dropped
    tail = F.split(F.rtrim(strip_col(ror), F.lit("/")), "/")
    return _prefixed("ror:", F.element_at(tail, -1))


def source_id(issn: str | None) -> str | None:
    return "issn:" + issn.strip() if issn and issn.strip() else None


def source_id_col(issn) -> Column:
    return _prefixed("issn:", strip_col(issn))


def topic_id(name: str | None) -> str | None:
    s = _slug(name)
    return ("topic:" + s) if s else None


def topic_id_col(name) -> Column:
    return _prefixed("topic:", _slug_col(name))


def funder_id(name: str | None) -> str | None:
    s = _slug(name)
    return ("funder:" + s) if s else None


def funder_id_col(name) -> Column:
    return _prefixed("funder:", _slug_col(name))


def publisher_id(name: str | None) -> str | None:
    s = _slug(name)
    return ("publisher:" + s) if s else None


def publisher_id_col(name) -> Column:
    return _prefixed("publisher:", _slug_col(name))
