"""Self-test of the benchmark's inputs: the page server's pages must
parse into exactly what the site lists, or the benchmark would time a
pipeline that parses nothing.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [os.path.dirname(BENCH), BENCH]

import checks  # noqa: E402
import gen  # noqa: E402
import pages  # noqa: E402
from gen import ENGINES, build_site  # noqa: E402
from pages import QUERY  # noqa: E402
from run import News, PageServer  # noqa: E402

from miba_2023_capstone_rb_nlp_spark.sources.content import extract_page  # noqa: E402
from miba_2023_capstone_rb_nlp_spark.sources.links import (  # noqa: E402
    BingNewsSource,
    GoogleNewsSource,
    YahooNewsSource,
)

SEED = 7
WL = News(pages=120, max_articles=40, k=5)


@pytest.fixture(scope="module")
def site():
    return build_site(SEED, WL.pages, WL.max_articles)


@pytest.fixture(scope="module")
def server():
    s = PageServer(SEED, WL)
    yield s
    s.close()


@pytest.mark.parametrize("engine,cls", zip(ENGINES, (GoogleNewsSource, BingNewsSource,
                                                     YahooNewsSource)))
def test_each_parser_returns_the_listed_links(site, server, engine, cls):
    got = [r["se_link"] for r in cls(server.fetcher, polite=False).get_links(
        QUERY, WL.max_articles)]
    want = [pages.article_url(server.base, p) for p in site.listings[engine][:WL.max_articles]]
    assert got == want
    assert len(got) > WL.max_articles // 2


def test_bing_stops_on_a_repeated_page(site, server):
    # more than listed: only the repeated last page ends the loop
    got = BingNewsSource(server.fetcher, polite=False).get_links(QUERY, 500)
    assert len(got) == len(site.listings["Bing"])


def test_article_block_is_the_dominant_block(site, server):
    for p in range(0, WL.pages, 7):
        url = pages.article_url(server.base, p)
        out = extract_page(url, pages.article_page(site, p))
        assert out["bs_paragraph"] == pages.content_paragraphs(site, p)
        assert out["n3k_title"] == pages.title_of(site, p)


def test_missing_pages_answer_404(site, server):
    import urllib.error
    import urllib.request

    assert site.missing, "the seed should make some pages answer 404"
    p = min(site.missing)
    with pytest.raises(urllib.error.HTTPError) as err:
        urllib.request.urlopen(pages.article_url(server.base, p), timeout=10)  # noqa: S310
    assert err.value.code == 404


def test_inputs_depend_only_on_the_seed(site):
    again = build_site(SEED, WL.pages, WL.max_articles)
    assert again.pages == site.pages and again.listings == site.listings
    assert again.missing == site.missing and again.trigger == site.trigger
    other = build_site(SEED + 1, WL.pages, WL.max_articles)
    assert other.pages != site.pages and other.listings != site.listings


def test_every_seed_asks_for_the_same_work():
    # the shares are fixed, so the seed moves which pages, not how many
    n_listings = len(ENGINES) * WL.max_articles
    n_dup = round(gen.DUP_SHARE * n_listings)
    for seed in (SEED, SEED + 1):
        s = build_site(seed, WL.pages, WL.max_articles)
        assert all(len(s.listings[e]) == WL.max_articles for e in ENGINES)
        assert all(len(set(s.listings[e])) == WL.max_articles for e in ENGINES)
        listed = set(checks.listed_pages(s, WL.max_articles))
        assert len(listed) == n_listings - n_dup
        assert len(s.missing) == round(gen.MISSING_SHARE * len(listed))
        assert len(s.trigger) == round(gen.TRIGGER_SHARE * len(listed))
        assert s.missing | set(s.trigger) <= listed


def test_the_clean_table_is_not_empty(site):
    # repeats across engines and cleaner triggers are both present
    listed = checks.listed_pages(site, WL.max_articles)
    total = sum(min(len(site.listings[e]), WL.max_articles) for e in ENGINES)
    assert len(listed) < total
    assert any(p in site.trigger for p in listed)
    assert checks.expected_clean_rows(site, WL.max_articles) > len(listed)
