"""Seeded inputs for one benchmark run.

Everything a run reads is made here from the workload's sizes and the
``--seed``; the same seed gives the same files:

- the pages corpus: ``corpus.build_world`` + ``write_pages_parquet``
  (64 files);
- the re-import delta, if the workload has one: some of the base page
  files again (a re-crawl, so upserts) plus the pages of a second world
  built from ``seed + 1`` (inserts);
- the search queries: word pairs from work titles, topic names, and
  made-up words that match no indexed token;
- the four tables the headline contract queries read (lineitem,
  documents, embeddings, events), shaped like the sf0.001 tables of
  TESTDATA.md, for traced runs only.

``Inputs.gen_s`` is the time spent in the program's own input
generation (``build_world`` + ``write_pages_parquet``), the benchmark's
set-up time; the file copies, queries and tables are not in it.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import shutil
import time
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from openalex_neo4j_spark.corpus import World, build_world, write_pages_parquet

N_QUERIES = 60

# the token vocabulary of the testdata documents table
_DOC_WORDS = (
    "a b the big small fast slow key value row column table data query "
    "filter join group agg sort window hash scan merge batch stream spark "
    "part order line customer dup").split()
_LANGS = ["en"] * 4 + ["zh", "es", "de", "fr"]
_EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]


@dataclass
class Inputs:
    world: World
    pages: str
    delta: str | None  # None: re-import the same graph
    delta_world: World | None  # the new works of the delta, if any
    tables: str | None  # None: not written (untraced run)
    queries: list[str]
    tier: dict
    gen_s: float


def make_inputs(root: str, seed: int, n_works: int, filler: int,
                recrawl_files: int, delta_works: int,
                tables: bool) -> Inputs:
    if os.path.exists(root):
        shutil.rmtree(root)
    os.makedirs(root)
    pages = os.path.join(root, "pages")
    delta = os.path.join(root, "delta") if recrawl_files or delta_works \
        else None
    delta_world = None
    t0 = time.perf_counter()
    world = build_world(n_works, seed=seed, filler_words=filler)
    write_pages_parquet(world, pages)
    if delta_works:
        delta_world = build_world(delta_works, seed=seed + 1,
                                  filler_words=filler)
        write_pages_parquet(delta_world, delta, num_files=4)
    gen_s = time.perf_counter() - t0

    if delta:
        os.makedirs(delta, exist_ok=True)
        parts = sorted(f for f in os.listdir(pages) if f.endswith(".parquet"))
        for f in random.Random(seed).sample(parts, recrawl_files):
            shutil.copy(os.path.join(pages, f),
                        os.path.join(delta, "recrawl-" + f))

    table_dir = os.path.join(root, "tables") if tables else None
    if table_dir:
        write_contract_tables(table_dir, seed)
    tier = {
        "n_works": n_works, "filler_words": filler, "seed": seed,
        "pages": len(world.pages),
        "html_mb": round(sum(len(p.html) for p in world.pages) / 2**20, 2),
        "delta_new_works": delta_works,
        "delta_recrawl_files": recrawl_files,
    }
    return Inputs(world, pages, delta, delta_world, table_dir,
                  search_queries(world, seed), tier, gen_s)


def search_queries(world: World, seed: int) -> list[str]:
    """Closed-loop query mix: 3 in 5 title word pairs, 1 in 5 topic
    names, 1 in 5 made-up words with no fulltext hit."""
    rng = random.Random(seed)
    titles = [w.title for w in world.works.values()]
    topics = sorted(world.topics.values())
    out = []
    for i in range(N_QUERIES):
        kind = i % 5
        if kind < 3:
            words = rng.choice(titles).split()
            out.append(" ".join(rng.sample(words, min(2, len(words)))))
        elif kind == 3:
            out.append(rng.choice(topics))
        else:
            out.append("".join(rng.choice("qxzjv") for _ in range(7)))
    return out


def write_contract_tables(path: str, seed: int) -> None:
    rng = np.random.default_rng(seed)
    os.makedirs(path)

    n_docs = 500
    text = [" ".join(rng.choice(_DOC_WORDS, n))
            for n in rng.integers(10, 100, n_docs)]
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": text,
        "lang": [_LANGS[i] for i in rng.integers(0, len(_LANGS), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    }), f"{path}/documents.parquet")

    emb = (rng.standard_normal((n_docs, 64)) / 8).astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(n_docs), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_docs), pa.int32()),
    }), f"{path}/embeddings.parquet")

    n_ev = 1_000
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    pq.write_table(pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(np.datetime64(dt.datetime(2024, 1, 1), "us")
                       + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n_ev), pa.int64()),
        "event_type": [_EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.uniform(0, 500, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }), f"{path}/events.parquet")

    lines = rng.integers(1, 8, 1_500)
    n_li = int(lines.sum())
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    days = rng.integers(0, 2500, n_li).astype("timedelta64[D]")
    pq.write_table(pa.table({
        "l_orderkey": pa.array(np.repeat(np.arange(1, len(lines) + 1) * 4,
                                         lines), pa.int64()),
        "l_partkey": pa.array(rng.integers(1, 201, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, 11, n_li), pa.int64()),
        "l_linenumber": pa.array(
            np.concatenate([np.arange(1, n + 1) for n in lines]), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(
            (np.datetime64("1992-01-01", "D") + days).astype("datetime64[us]"),
            pa.timestamp("us")),
    }), f"{path}/lineitem.parquet")
