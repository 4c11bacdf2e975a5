"""Seeded input generation. The same seed gives the same inputs; the
engine only ever sees the generated tables.

Page stores come from ``fixtures.generate_site`` — its link structure
depends only on page indices, so every seed yields the same crawl
shape (supersteps, fetch counts) with different page text. Oracle text
is the pure-Python reference kernel (``extraction.extract_page``), the
same oracle the fixtures carry."""

from __future__ import annotations

import random
from dataclasses import dataclass, field
from typing import Dict, List

from website_to_agent_spark import extraction, fixtures

_WORDS = (
    "spark frontier crawl politeness bloom shuffle partition catalyst "
    "arrow parquet superstep lineage domain token bucket drain skew "
    "extraction markdown heading paragraph anchor entity knowledge agent"
).split()


def _oracle(html: bytes, url: str) -> str:
    return extraction.extract_page(html.decode("utf-8"), url)["text"]


def crawl_site(seed: int, n_pages: int, n_domains: int) -> fixtures.SiteSpec:
    return fixtures.generate_site(
        n_pages=n_pages, n_domains=n_domains, seed=seed, big_text_pages=0
    )


def bulk_pages(seed: int, n_unique: int, copies: int,
               pad_kb: int) -> List[dict]:
    """``n_unique * copies`` pages of about ``pad_kb`` + 1.5 KB of HTML.

    Each generated page gets ``pad_kb`` of seeded paragraphs after its
    ``<h1>`` (inside the main-content block of every page structure),
    then is served under ``copies`` distinct urls — mirrored content,
    as on the real web. Oracle text is computed once per body."""
    rng = random.Random(seed * 1_000_003 + 11)
    base = fixtures.generate_site(
        n_pages=n_unique, n_domains=4, seed=seed, big_text_pages=0
    ).rows
    rows = []
    for r in base:
        paras = []
        size = 0
        while size < pad_kb * 1024:
            p = "<p>" + " ".join(rng.choice(_WORDS) for _ in range(40)) + "</p>\n"
            paras.append(p)
            size += len(p)
        html = r["html"].replace(
            b"</h1>\n", b"</h1>\n" + "".join(paras).encode(), 1
        )
        text = _oracle(html, r["url"])
        for c in range(copies):
            rows.append({
                "url": r["url"].replace("/p/", f"/c{c}/p/", 1),
                "warc_ts": r["warc_ts"],
                "html": html,
                "text": text,
                "lang": r["lang"],
            })
    return rows


@dataclass
class RecrawlStores:
    """Epoch-1 and epoch-2 page stores plus the changes between them."""
    v1: List[dict]
    v2: List[dict]
    seeds: List[str]
    modified: set = field(default_factory=set)
    gone: set = field(default_factory=set)
    moved: Dict[str, str] = field(default_factory=dict)  # url -> final url

    def oracle_v2(self) -> Dict[str, str]:
        return {r["url"]: r["text"] for r in self.v2}


def recrawl_stores(seed: int, n_pages: int, n_domains: int) -> RecrawlStores:
    """Epoch 2 changes non-seed pages by page index: ~10% get a revised
    heading (new text, same links), ~2% are removed (fetch fails), and
    ~3% move: the old url serves a "Moved" stub linking to the new url,
    which serves the old body. ``moved`` holds those (url -> new url)
    pairs, the edges a ``redirect_to`` column would carry.

    The change pattern depends on the page index only, so every seed
    crawls the same shape and the seed varies the content. A crawl
    from ``/p/0.html`` with 4 successes fetches pages 0-3 of a host:
    page 3 is modified, so a quarter of those fetches re-extract."""
    site = crawl_site(seed, n_pages, n_domains)
    v1 = site.rows
    seeds = set(site.seeds)

    def idx(url: str) -> int:
        return int(url.rsplit("/", 1)[1].split(".")[0])

    cand = [r["url"] for r in v1 if r["url"] not in seeds]
    modified = {u for u in cand if idx(u) % 10 == 3}
    gone = {u for u in cand if idx(u) % 50 == 25}
    to_move = {u for u in cand if idx(u) % 33 == 12} - modified - gone
    moved = {}
    v2 = []
    for r in v1:
        url = r["url"]
        if url in gone:
            continue
        if url in modified:
            html = r["html"].replace(b"</h1>", b" (revised)</h1>", 1)
            v2.append(dict(r, html=html, text=_oracle(html, url)))
        elif url in to_move:
            host = url.split("/")[2]
            target = f"/moved/{url.rsplit('/', 1)[1]}"
            final = f"https://{host}{target}"
            moved[url] = final
            stub = fixtures.redirect_row(url, target)
            del stub["redirect_to"]
            v2.append(dict(stub, text=_oracle(stub["html"], url)))
            v2.append(dict(r, url=final, text=_oracle(r["html"], final)))
        else:
            v2.append(r)
    return RecrawlStores(v1=v1, v2=v2, seeds=site.seeds, modified=modified,
                         gone=gone, moved=moved)
