"""Seeded inputs for the benchmark.

Two generators, both pure functions of ``seed``:

- ``write_tables`` writes the ten parquet tables the registry reads
  (TPC-H-like star schema, ``events``, ``documents``, ``embeddings``)
  with the schemas and value ranges of the repository's test data.
- ``build_site`` lays out the news site the page server serves: which
  documents make up each article page, which engines list each page,
  which pages answer 404, and the search-result order per engine.

Neither touches Spark; the page renderers live in ``pages.py``.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["large", "small", "hot", "cold", "red", "blue", "new", "old"]
PART_NOUN = ["ring", "bolt", "rod", "plate", "gear", "anvil", "nut", "pipe"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
# The documents vocabulary: none of these words contains a phrase the
# cleaner drops (``operators.cleaning.UNDESIREABLE_PHRASES``).
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()

EPOCH_1995 = np.datetime64("1995-01-01", "D")
EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")


def _ts(days: np.ndarray) -> pa.Array:
    return pa.array((EPOCH_1995 + days).astype("datetime64[us]"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict | pd.DataFrame) -> None:
    table = (pa.Table.from_pandas(cols, preserve_index=False)
             if isinstance(cols, pd.DataFrame) else pa.table(cols))
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def documents(seed: int, n: int) -> pd.DataFrame:
    """The ``documents`` table: random-vocabulary texts of 10-100
    words; 5% are a near-duplicate of another document plus `` dup``."""
    rng = np.random.default_rng([seed, 7])
    lens = rng.integers(10, 101, n)
    words = np.array(VOCAB)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in lens]
    dup = rng.choice(n, n // 20, replace=False)
    src = rng.integers(0, n, len(dup))
    for d, s in zip(dup, src):
        if d != s:
            texts[d] = texts[s] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return pd.DataFrame({
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def write_tables(out_dir: str, seed: int, sf: float) -> None:
    """Write the ten registry tables at scale factor ``sf``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_user, n_ev = int(15_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), int(20_000 * sf)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": pk,
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    })
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(rng.integers(0, 2404, n_ord)),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _ts(rng.integers(1, 2499, n_line)),
    })
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(EPOCH_2024 + ts.astype("timedelta64[us]")),
        "user_id": rng.integers(0, n_user, n_ev),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    _write(out_dir, "documents", documents(seed, n_doc))
    labels = rng.integers(0, 10, n_emb)
    centres = rng.normal(0.0, 1.0, (10, 64))
    vecs = centres[labels] + rng.normal(0.0, 0.6, (n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


# --- the news site ------------------------------------------------------

ENGINES = ("Google", "Bing", "Yahoo")
DOCS = 5000  # the sf0.1 ``documents`` corpus the article pages draw from
# Traffic shape of the site. No figures for these exist in the
# repository; they are assumed. They are fixed rather than drawn per
# seed so that every seed asks for the same amount of work; the seed
# picks which pages they apply to.
DOCS_PER_PAGE = (3, 4, 5, 6)  # documents rendered into one article page, cycled
DUP_SHARE = 0.15  # share of the listings that repeat a page another engine lists
MISSING_SHARE = 0.03  # share of the listed pages that answer 404
TRIGGER_SHARE = 0.125  # share of the listed pages that carry a cleaner trigger


@dataclass
class Site:
    """Which documents make up each page and who lists it.

    ``pages[i]`` is the list of doc ids rendered as page i's
    paragraphs; ``listings[engine]`` is that engine's result order
    (page ids); ``missing`` holds page ids that answer 404."""

    texts: list[str]
    pages: list[list[int]]
    listings: dict[str, list[int]]
    missing: set[int]
    trigger: dict[int, str] = field(default_factory=dict)


# Paragraphs the cleaner must drop, rendered inside the article body of
# one page in eight: an e-mail, a phone number, a link, a phrase from
# the drop list and a short line.
TRIGGERS = [
    "For corrections write to the desk at news.desk@example.com and include "
    "the headline of the story, the date it ran and the paragraph that needs "
    "a second look from the editors.",
    "Readers can reach the newsroom around the clock by phone at "
    "+1 555-123-4567 with tips, corrections or questions about the data "
    "behind any of the charts on this page.",
    "The full dataset behind this story is published at "
    "https://www.example.com/data/news and is refreshed every night once the "
    "batch finishes and the tables are checked.",
    "Please enable javascript and accept cookies to keep reading this story "
    "and the rest of the coverage from our data desk, including the charts "
    "and the interactive tables.",
    "Short line.",
]


def build_site(seed: int, n_pages: int, per_engine: int) -> Site:
    """Lay out ``n_pages`` article pages over the ``DOCS`` documents
    and give each engine a result list of exactly ``per_engine`` pages,
    ``DUP_SHARE`` of all listings repeating a page of another engine."""
    rng = np.random.default_rng([seed, 11])
    texts = documents(seed, DOCS)["text"].tolist()
    sizes = rng.permutation(np.resize(DOCS_PER_PAGE, n_pages))
    pages = [rng.choice(len(texts), k, replace=False).tolist() for k in sizes]
    n_listings = len(ENGINES) * per_engine
    n_dup = round(DUP_SHARE * n_listings)
    listed = rng.permutation(n_pages)[:n_listings - n_dup].tolist()
    if len(listed) < n_listings - n_dup:
        raise ValueError(f"{n_pages} pages cannot fill {n_listings} listings")
    # dealt round-robin, the two copies of a repeated page land on two
    # different engines, and every engine gets exactly per_engine
    dealt = [p for p in listed[:n_dup] for _ in (0, 1)] + listed[n_dup:]
    listings = {e: rng.permutation(dealt[i::len(ENGINES)]).tolist()
                for i, e in enumerate(ENGINES)}
    missing = set(rng.choice(listed, round(MISSING_SHARE * len(listed)), replace=False).tolist())
    with_trigger = rng.choice(listed, round(TRIGGER_SHARE * len(listed)), replace=False)
    trigger = {int(p): TRIGGERS[i % len(TRIGGERS)] for i, p in enumerate(with_trigger)}
    return Site(texts, pages, listings, missing, trigger)
