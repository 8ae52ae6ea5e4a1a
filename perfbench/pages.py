"""HTML the page server returns, in the formats the sources parse.

Search pages follow the three parsers in ``sources.links``: Google
results with a ``pnnext`` link, Bing results addressed by ``first=``
offsets (past the end the last page repeats, so the parser stops on a
repeated page hash), Yahoo results whose links hide the target behind
``RU=…/RK``. Article pages wrap a page's documents, one ``<p>`` each,
in a content block between nav and footer boilerplate.
"""

from __future__ import annotations

import html
import urllib.parse

from gen import Site

QUERY = "spark news"  # what the analyst searches for
PAGE_SIZE = 10  # results per search page, every engine
# the hosts the three sources request, in ``sources.links``
ENGINE_PATHS = {"www.google.com": "Google", "www.bing.com": "Bing",
                "news.search.yahoo.com": "Yahoo"}


def article_url(base: str, page: int) -> str:
    return f"{base}/article/{page}"


def title_of(site: Site, page: int) -> str:
    first = site.texts[site.pages[page][0]].split()
    return f"Report {page}: " + " ".join(first[:6])


def description_of(site: Site, page: int) -> str:
    """A snippet of at least 100 characters, so no listing is dropped
    for a short description."""
    text = " ".join(site.texts[d] for d in site.pages[page])
    return (f"Story {page} " + text)[:160]


def _result(engine: str, base: str, page: int, site: Site) -> str:
    link = article_url(base, page)
    title = html.escape(title_of(site, page))
    desc = html.escape(description_of(site, page))
    source = f"outlet{page % 17}"
    if engine == "Google":
        return (f'<div class="g"><a href="{link}"><h3>{title}</h3></a>'
                f'<div class="source">{source}</div><div class="desc">{desc}</div></div>\n')
    if engine == "Bing":
        return (f'<div class="news-card"><a class="title" href="{link}">{title}</a>'
                f'<div class="snippet">{desc}</div><div class="source">{source}</div></div>\n')
    ru = urllib.parse.quote(link, safe="")
    wrapped = f"https://r.search.yahoo.com/_ylt=AwrX;_ylu=Y29s/RV=2/RE=1/RO=10/RU={ru}/RK=2/RS=x-"
    return (f'<div class="dd NewsArticle"><a href="{wrapped}" class="thmb"><h4>{title}</h4></a>'
            f'<p class="s-desc">{desc}</p><span class="s-source">{source}</span></div>\n')


def search_page(engine: str, site: Site, base: str, offset: int) -> str:
    """Results ``offset .. offset+PAGE_SIZE`` of ``engine``'s listing.

    Google and Yahoo link to the next page while results remain; Bing
    has no next link and repeats its last page past the end."""
    listing = site.listings[engine]
    if engine == "Bing" and listing:
        offset = min(offset, (len(listing) - 1) // PAGE_SIZE * PAGE_SIZE)
    chunk = listing[offset:offset + PAGE_SIZE]
    body = "".join(_result(engine, base, p, site) for p in chunk)
    more = offset + PAGE_SIZE < len(listing)
    q = urllib.parse.quote_plus(QUERY)
    if engine == "Google" and more:
        body += f'<a id="pnnext" href="/search?q={q}&tbm=nws&start={offset + PAGE_SIZE}">Next</a>'
    if engine == "Yahoo" and more:
        body += f'<a class="next" href="/search?p={q}&b={offset + PAGE_SIZE + 1}">Next</a>'
    return f"<html><head><title>{engine} results</title></head><body>{body}</body></html>"


def search_offset(engine: str, params: dict[str, list[str]]) -> int:
    """Result offset a search URL asks for, per engine convention."""
    if engine == "Google":
        return int(params.get("start", ["0"])[0])
    if engine == "Bing":
        return int(params.get("first", ["1"])[0]) - 1
    return int(params.get("b", ["1"])[0]) - 1


def content_paragraphs(site: Site, page: int) -> list[str]:
    """The ``<p>`` texts of the article block, in order."""
    paras = [site.texts[d] for d in site.pages[page]]
    if page in site.trigger:
        paras.insert(1, site.trigger[page])
    return paras


def article_page(site: Site, page: int) -> str:
    title = html.escape(title_of(site, page))
    paras = "".join(f"<p>{html.escape(t)}</p>\n" for t in content_paragraphs(site, page))
    return (
        f"<html><head><title>{title}</title></head><body>"
        '<nav id="menu" class="top"><p>Home</p><p>World</p>'
        "<p>Sign in to subscribe to the newsletter</p></nav>\n"
        f'<div id="story" class="article"><h1>{title}</h1>\n{paras}</div>\n'
        '<footer id="foot"><p>About us | Contact us | Careers</p>'
        "<p>© 2024 Example News. All rights reserved. Privacy policy.</p></footer>"
        "</body></html>"
    )

