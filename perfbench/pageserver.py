"""Local page server for the news workloads.

Serves the three engines' search pages and the article pages of one
seeded site on 127.0.0.1, from a pool of as many handler threads as
there are usable cores. Routes:

    /google/...  /bing/...  /yahoo/...   search pages (see pages.py)
    /article/<n>                          article page, or 404
    /stats                                request counters as JSON

Run as its own process; it prints ``PORT <n>`` once listening and
serves until terminated or until its stdin closes, so it ends with
the benchmark process that holds the other end.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import urllib.parse
from concurrent.futures import ThreadPoolExecutor
from http.server import BaseHTTPRequestHandler, HTTPServer

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pages  # noqa: E402
from gen import ENGINES, Site, build_site  # noqa: E402


class Counters:
    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.n = {"search": 0, "article": 0, "article_404": 0}

    def bump(self, key: str) -> None:
        with self.lock:
            self.n[key] += 1

    def snapshot(self) -> dict:
        with self.lock:
            return dict(self.n)


class PooledHTTPServer(HTTPServer):
    """HTTPServer whose requests run on a bounded thread pool."""

    def __init__(self, addr, handler, threads: int):
        super().__init__(addr, handler)
        self.pool = ThreadPoolExecutor(max_workers=threads)

    def process_request(self, request, client_address):
        self.pool.submit(self._handle, request, client_address)

    def _handle(self, request, client_address):
        try:
            self.finish_request(request, client_address)
        except Exception:  # noqa: BLE001 — one bad connection must not stop the server
            self.handle_error(request, client_address)
        finally:
            self.shutdown_request(request)


def make_handler(site: Site, counters: Counters):
    class Handler(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.0"

        def log_message(self, *args):  # quiet
            pass

        def _send(self, code: int, body: str, ctype: str = "text/html") -> None:
            data = body.encode("utf-8")
            self.send_response(code)
            self.send_header("Content-Type", f"{ctype}; charset=utf-8")
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        def do_GET(self):  # noqa: N802
            url = urllib.parse.urlsplit(self.path)
            parts = url.path.strip("/").split("/")
            base = f"http://{self.server.server_address[0]}:{self.server.server_address[1]}"
            if parts[0] == "stats":
                return self._send(200, json.dumps(counters.snapshot()), "application/json")
            if parts[0] == "article" and len(parts) == 2 and parts[1].isdigit():
                page = int(parts[1])
                if page >= len(site.pages) or page in site.missing:
                    counters.bump("article_404")
                    return self._send(404, "<html><body><p>Not found</p></body></html>")
                counters.bump("article")
                return self._send(200, pages.article_page(site, page))
            engine = {e.lower(): e for e in ENGINES}.get(parts[0])
            if engine is None:
                return self._send(404, "")
            counters.bump("search")
            params = urllib.parse.parse_qs(url.query)
            offset = pages.search_offset(engine, params)
            return self._send(200, pages.search_page(engine, site, base, offset))

    return Handler


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--pages", type=int, required=True)
    ap.add_argument("--per-engine", type=int, required=True)
    args = ap.parse_args()
    site = build_site(args.seed, args.pages, args.per_engine)
    counters = Counters()
    server = PooledHTTPServer(("127.0.0.1", 0), make_handler(site, counters),
                              threads=len(os.sched_getaffinity(0)))
    print(f"PORT {server.server_address[1]}", flush=True)
    threading.Thread(target=lambda: (sys.stdin.read(), server.shutdown()), daemon=True).start()
    try:
        server.serve_forever()
    finally:
        server.pool.shutdown(wait=True)
        server.server_close()


if __name__ == "__main__":
    main()
