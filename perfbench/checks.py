"""Output checks: what a correct run of each workload must produce.

News: the clean table the model below predicts from the site (same
rows every rep), and the ``viz_summary`` invariants. Query mix: each
entry's rows equal its DuckDB oracle's under an order-insensitive
hash.
"""

from __future__ import annotations

import hashlib
import math
import re

import pyarrow.parquet as pq

from gen import ENGINES, Site
from miba_2023_capstone_rb_nlp_spark.operators import cleaning as C
from pages import content_paragraphs, description_of, title_of
from tests.parity import canonicalize

BING_MAX_RESULTS = 210  # offsets 1, 11, …, 201 stay under the 211 cap

_REPLACE = re.compile(C.REPLACEMENT_PATTERN)
_PHRASE = re.compile(C.PHRASE_PATTERN)
_REMOVAL = re.compile(C.REMOVAL_PATTERN)
_EMPTY = re.compile(C.EMPTY_STRING_PATTERN)

# nav and footer paragraphs of every article page (pages.article_page)
BOILERPLATE = ["Home", "World", "Sign in to subscribe to the newsletter"]
FOOTER = ["About us | Contact us | Careers",
          "© 2024 Example News. All rights reserved. Privacy policy."]


def frame_hash(df) -> str:
    """Order-insensitive hash of a pandas frame's rows."""
    return hashlib.sha256(repr(canonicalize(df)).encode()).hexdigest()


def listed_pages(site: Site, max_articles: int) -> list[int]:
    """Distinct pages the three sources return, in first-seen order."""
    return list(listers(site, max_articles))


def _ws(s):
    return _REPLACE.sub(" ", s).strip()


def _drop_if(s, bad: bool):
    return None if s is None or bad else s


def _short(s, n: int):
    return None if s is None or len(s) < n else s


def _longest_or_empty(a, b):
    if a is None or b is None or len(a) == len(b):
        return ""
    return a if len(a) > len(b) else b


def _empty(s):
    return _drop_if(s, s is not None and bool(_EMPTY.search(s)))


def _text_rule(s, min_len: int):
    s = _ws(s)
    s = _drop_if(s, bool(_PHRASE.search(s)))
    s = _short(s, min_len)
    s = _drop_if(s, s is not None and bool(_REMOVAL.search(s)))
    return _empty(s)


def expected_clean_rows(site: Site, max_articles: int) -> int:
    """Rows ``clean_articles`` keeps for the site: one per article-block
    paragraph of each reachable listed page that passes the rules."""
    rows = 0
    for p in listed_pages(site, max_articles):
        if p in site.missing:
            continue
        paras = content_paragraphs(site, p)
        title = title_of(site, p)
        n3k_body = _short(_ws(" ".join(BOILERPLATE + paras + FOOTER)), C.MIN_BODY_LEN)
        bs_body = _short(_ws(" ".join(paras)), C.MIN_BODY_LEN)
        body = _empty(_longest_or_empty(n3k_body, bs_body))
        se_title = _short(_drop_if(title, bool(_PHRASE.search(title))), C.MIN_TITLE_LEN)
        page_title = _short(_drop_if(_ws(title), bool(_PHRASE.search(title))), C.MIN_TITLE_LEN)
        t = _longest_or_empty(page_title, page_title)
        title_out = se_title if se_title is not None and len(se_title) > len(t) else t
        title_out = _empty(_drop_if(title_out, bool(_REMOVAL.search(title_out or ""))))
        desc = _text_rule(description_of(site, p), C.MIN_DESCRIPTION_LEN)
        if title_out is None or desc is None or body is None:
            continue
        rows += sum(_text_rule(x, C.MIN_PARAGRAPH_LEN) is not None for x in paras)
    return rows


def listers(site: Site, max_articles: int) -> dict[int, set[str]]:
    """Page id -> the engines whose returned results list it."""
    out: dict[int, set[str]] = {}
    for e in ENGINES:
        cap = min(max_articles, BING_MAX_RESULTS) if e == "Bing" else max_articles
        for p in site.listings[e][:cap]:
            out.setdefault(p, set()).add(e)
    return out


def read_clean(path: str):
    return pq.read_table(path).to_pandas()


def clean_hash(df) -> str:
    """Hash of the clean table without ``engine``: for a link several
    engines return, ``get_all_links`` keeps an arbitrary one of the
    rows (documented in sources/links.py), so only ``engine`` may vary
    between reps. ``engine_problems`` checks that column instead."""
    return frame_hash(df.drop(columns=["engine"]))


def engine_problems(df, site: Site, max_articles: int) -> list[str]:
    """Rows whose ``engine`` did not return their link."""
    who = listers(site, max_articles)
    pages = df["link"].str.rsplit("/", n=1).str[1].astype(int)
    bad = [(p, e) for p, e in zip(pages, df["engine"]) if e not in who.get(p, ())]
    return [f"{len(bad)} rows carry an engine that did not list their link"] if bad else []


def viz_problems(rows: list, clean_rows: int, k: int | None, n_med: int,
                 corpus: set[str]) -> list[str]:
    """Broken ``viz_summary`` invariants, as messages."""
    out = []
    sizes = {r["cluster"]: r["size"] for r in rows}
    if sum(sizes.values()) != clean_rows:
        out.append(f"sum(size)={sum(sizes.values())} != clean rows {clean_rows}")
    if k is not None and len(sizes) > k:
        out.append(f"{len(sizes)} clusters > k={k}")
    per: dict = {}
    for r in rows:
        per[r["cluster"]] = per.get(r["cluster"], 0) + 1
        if not (math.isfinite(r["x"]) and math.isfinite(r["y"])):
            out.append(f"non-finite coordinates in cluster {r['cluster']}")
        if r["paragraph"] not in corpus:
            out.append(f"medoid paragraph not in corpus: {r['paragraph'][:40]!r}")
    if any(n > n_med for n in per.values()):
        out.append(f"more than {n_med} medoids in a cluster: {per}")
    return out
