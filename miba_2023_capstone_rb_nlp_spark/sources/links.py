"""Search-engine link sources (SURVEY S4-S7).

Architecture: each engine is a driver-side paginated fetcher (network
I/O is not a distributed concern at this fan-out — 3 engines × tens
of pages; the reference agrees, link_extractor.py:548-555). Results
land in a DataFrame under LINKS_SCHEMA and every downstream step is
distributed. Predicate pushdown = query/date-range/market params
encoded into the request URL (the only pushdown a search engine
offers).

The HTTP layer is injected (``fetcher(url) -> html``): production
uses stdlib urllib with a politeness delay; tests inject canned HTML.
Reference behaviors kept: Google ``tbs=cdr`` date-range params and
pnnext pagination (link_extractor.py:145-155,214-220), Bing's
page-hash stall detection + offset hard cap (:299,:317-324), Yahoo's
``RU=(.+)/RK`` link de-obfuscation (:450), per-engine max_articles
truncation (L1), last-wins dedup by se_link in engine order (S7,
:558).
"""

from __future__ import annotations

import hashlib
import random
import re
import time
import urllib.parse
import urllib.request
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from datetime import date, timedelta

from pyspark.sql import DataFrame, SparkSession

from miba_2023_capstone_rb_nlp_spark.sources.schemas import LINKS_SCHEMA

Fetcher = Callable[[str], str]

POLITE_DELAY_RANGE = (1.0, 2.5)  # link_extractor.py:22
USER_AGENT = "Mozilla/5.0 (X11; Linux x86_64)"


def default_fetcher(url: str, timeout: float = 10.0) -> str:
    req = urllib.request.Request(url, headers={"User-Agent": USER_AGENT})
    with urllib.request.urlopen(req, timeout=timeout) as resp:  # noqa: S310
        return resp.read().decode("utf-8", errors="replace")


def _polite_sleep(delay_range=POLITE_DELAY_RANGE) -> None:
    time.sleep(random.uniform(*delay_range))


def _date_params(
    start_date: str | None, end_date: str | None, duration_months: int | None
) -> str:
    """Google cdr date-range pushdown (link_extractor.py:145-155):
    explicit range XOR duration-months-back; conflict raises."""
    if duration_months and (start_date or end_date):
        raise ValueError("pass either start/end dates or duration, not both")
    if duration_months:
        start = date.today() - timedelta(days=30 * duration_months)
        return f"&tbs=cdr:1,cd_min:{start:%m/%d/%Y}"
    if start_date or end_date:
        parts = ["cdr:1"]
        if start_date:
            parts.append(f"cd_min:{start_date}")
        if end_date:
            parts.append(f"cd_max:{end_date}")
        return "&tbs=" + ",".join(parts)
    return ""


class LinkSource:
    """Base: subclasses implement page_url/parse_page/next_page."""

    engine = "base"

    def __init__(self, fetcher: Fetcher | None = None, polite: bool = True):
        self.fetcher = fetcher or default_fetcher
        self.polite = polite

    def get_links(self, query: str, max_articles: int = 100, **kw) -> list[dict]:
        raise NotImplementedError


class GoogleNewsSource(LinkSource):
    engine = "Google"
    _RESULT_RE = re.compile(
        r'<a href="(?P<link>https?://[^"]+)"[^>]*>.*?'
        r"<h3[^>]*>(?P<title>.*?)</h3>.*?"
        r'<div class="source">(?P<source>.*?)</div>'
        r'(?:.*?<div class="desc">(?P<desc>.*?)</div>)?',
        re.S,
    )
    _NEXT_RE = re.compile(r'id="pnnext"\s+href="([^"]+)"')

    def get_links(
        self,
        query: str,
        max_articles: int = 100,
        start_date: str | None = None,
        end_date: str | None = None,
        duration_months: int | None = None,
    ) -> list[dict]:
        url = (
            "https://www.google.com/search?q="
            + urllib.parse.quote_plus(query)
            + "&tbm=nws"
            + _date_params(start_date, end_date, duration_months)
        )
        out: list[dict] = []
        while url and len(out) < max_articles:
            html = self.fetcher(url)
            for m in self._RESULT_RE.finditer(html):
                out.append(
                    {
                        "engine": self.engine,
                        "se_link": m["link"],
                        "se_title": _strip_tags(m["title"]),
                        "se_description": _strip_tags(m["desc"]) if m["desc"] else None,
                        "se_source": _strip_tags(m["source"]),
                    }
                )
                if len(out) >= max_articles:  # L1 per-engine truncation
                    break
            nxt = self._NEXT_RE.search(html)
            url = urllib.parse.urljoin(url, nxt.group(1)) if nxt else None
            if self.polite:
                _polite_sleep()
        return out[:max_articles]


class BingNewsSource(LinkSource):
    engine = "Bing"
    PAGE_SIZE = 10
    OFFSET_HARD_CAP = 211  # link_extractor.py:299
    _RESULT_RE = re.compile(
        r'<a class="title" href="(?P<link>[^"]+)"[^>]*>(?P<title>.*?)</a>'
        r'(?:.*?<div class="snippet">(?P<desc>.*?)</div>)?'
        r'(?:.*?<div class="source">(?P<source>.*?)</div>)?',
        re.S,
    )

    def get_links(self, query: str, max_articles: int = 100, **kw) -> list[dict]:
        out: list[dict] = []
        first, last_hash = 1, None
        while len(out) < max_articles and first < self.OFFSET_HARD_CAP:
            url = (
                "https://www.bing.com/news/infinitescrollajax?q="
                + urllib.parse.quote_plus(query)
                + f"&first={first}"
            )
            html = self.fetcher(url)
            # stall detection by page hash (link_extractor.py:317-324)
            h = hashlib.md5(html.encode()).hexdigest()
            if h == last_hash:
                break
            last_hash = h
            for m in self._RESULT_RE.finditer(html):
                out.append(
                    {
                        "engine": self.engine,
                        "se_link": m["link"],
                        "se_title": _strip_tags(m["title"]),
                        "se_description": _strip_tags(m["desc"]) if m["desc"] else None,
                        "se_source": _strip_tags(m["source"]) if m["source"] else None,
                    }
                )
            first += self.PAGE_SIZE
            if self.polite:
                _polite_sleep()
        return out[:max_articles]


class YahooNewsSource(LinkSource):
    engine = "Yahoo"
    _RESULT_RE = re.compile(
        r'<a href="(?P<link>[^"]+)"[^>]*class="thmb"[^>]*>.*?'
        r"<h4[^>]*>(?P<title>.*?)</h4>"
        r'(?:.*?<p class="s-desc">(?P<desc>.*?)</p>)?'
        r'(?:.*?<span class="s-source">(?P<source>.*?)</span>)?',
        re.S,
    )
    _NEXT_RE = re.compile(r'<a class="next" href="([^"]+)"')
    _RU_RE = re.compile(r"RU=(.+?)/RK")  # link de-obfuscation, :450

    def _clean_link(self, link: str) -> str | None:
        m = self._RU_RE.search(link)
        return urllib.parse.unquote(m.group(1)) if m else link

    def get_links(self, query: str, max_articles: int = 100, **kw) -> list[dict]:
        url = "https://news.search.yahoo.com/search?p=" + urllib.parse.quote_plus(query)
        out: list[dict] = []
        while url and len(out) < max_articles:
            html = self.fetcher(url)
            for m in self._RESULT_RE.finditer(html):
                out.append(
                    {
                        "engine": self.engine,
                        "se_link": self._clean_link(m["link"]),
                        "se_title": _strip_tags(m["title"]),
                        "se_description": _strip_tags(m["desc"]) if m["desc"] else None,
                        "se_source": _strip_tags(m["source"]) if m["source"] else None,
                    }
                )
                if len(out) >= max_articles:
                    break
            nxt = self._NEXT_RE.search(html)
            url = urllib.parse.urljoin(url, nxt.group(1)) if nxt else None
            if self.polite:
                _polite_sleep()
        return out[:max_articles]


_TAG_RE = re.compile(r"<[^>]+>")


def _strip_tags(s: str) -> str:
    return _TAG_RE.sub("", s).strip()


def get_all_links(
    spark: SparkSession,
    sources: list[LinkSource],
    query: str,
    max_articles: int = 100,
    **kw,
) -> DataFrame:
    """S7: thread-pool fan-out over engines, flatten in ``sources``
    order, dedup by se_link keeping the last occurrence (the
    reference's ``keep='last'``), then DataFrame-ize. The rows are
    already on the driver, so the dedup is a dict, not a shuffle."""
    with ThreadPoolExecutor(max_workers=max(1, len(sources))) as pool:
        futs = [
            pool.submit(s.get_links, query, max_articles, **kw) for s in sources
        ]
        last = {r["se_link"]: r for f in futs for r in f.result()}
    return spark.createDataFrame(list(last.values()), schema=LINKS_SCHEMA)
