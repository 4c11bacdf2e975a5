"""Deterministic synthetic page-graph generator (seed 42).

Produces rows in the Common-Crawl-style ``pages`` schema mandated by
BASELINE.json ``input_hint``::

    pages(url string, warc_ts timestamp, html binary, text string, lang string)

per FIXTURES.md: a linked HTML site whose pages exercise every filter
branch (F1-F14) and extraction branch (P5-P13) of SURVEY.md §2 —
relative/absolute/subdomain/external/fragment/empty/skip-extension/
skip-path links, duplicated links, dead links, selector-cascade
variants, prune-tag noise, heading/list/nested-div markdown branches,
messy whitespace and entities. The ``text`` column is the byte-identity
oracle, produced at generation time by the shared extraction kernel
(`website_to_agent_spark.extraction.extract_page` — reference
semantics, `crawl4ai_client.py:80-121`).

The generator is pure-Python and deterministic: ``random.Random(seed)``
only; no wall clock (warc_ts derives from crc32(url)).
"""

from __future__ import annotations

import random
import zlib
from datetime import datetime, timedelta, timezone
from typing import Dict, List, Optional

from website_to_agent_spark import extraction

_BASE_TS = datetime(2025, 1, 1, tzinfo=timezone.utc)

_WORDS = (
    "spark frontier crawl politeness bloom filter shuffle partition "
    "catalyst arrow pandas parquet iceberg superstep lineage metric "
    "domain registrable token bucket ranked drain broadcast skew salt "
    "extraction markdown heading paragraph anchor entity whitespace "
    "knowledge concept terminology insight agent website content"
).split()

_STRUCTURES = ("main", "article", "class_content", "class_main_content",
               "id_content", "id_main", "body_only", "bare")


def _warc_ts(url: str) -> datetime:
    return _BASE_TS + timedelta(seconds=zlib.crc32(url.encode()) % 2_592_000)


def _para(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(n))


class SiteSpec:
    """One generated site graph: page URLs, HTML, and oracle text."""

    def __init__(self, rows: List[dict], seeds: List[str]):
        self.rows = rows
        self.seeds = seeds

    def as_store(self) -> Dict[str, "object"]:
        from website_to_agent_spark.reference_sim import StoredPage

        return {r["url"]: StoredPage(html=r["html"].decode("utf-8"))
                for r in self.rows}


def generate_site(
    n_pages: int = 200,
    n_domains: int = 4,
    seed: int = 42,
    hot_domain_share: float = 0.3,
    big_text_pages: int = 2,
    big_text_kb: int = 480,
) -> SiteSpec:
    """Build a deterministic multi-domain site graph.

    Domain 0 is the "hot host" holding ``hot_domain_share`` of all
    pages (exercises salted-partitioning / skew handling); every other
    domain gets an equal share, and each domain has a ``sub.`` host so
    both domain-filter modes (endswith F2 vs exact-host F3) diverge
    observably.
    """
    rng = random.Random(seed)
    domains = [f"site{d}.example{d}.com" for d in range(n_domains)]

    # --- allocate page URLs per host -------------------------------
    counts = [max(2, int(n_pages * hot_domain_share))]
    rest = n_pages - counts[0]
    for d in range(1, n_domains):
        counts.append(max(2, rest // (n_domains - 1)))
    urls_by_host: Dict[str, List[str]] = {}
    all_urls: List[str] = []
    for d, domain in enumerate(domains):
        hosts = [f"www.{domain}", f"sub.{domain}"]
        for hi, host in enumerate(hosts):
            n_host = counts[d] if hi == 0 else max(2, counts[d] // 4)
            urls = [f"https://{host}/p/{i}.html" for i in range(n_host)]
            urls_by_host[host] = urls
            all_urls.extend(urls)

    rows: List[dict] = []
    for url in all_urls:
        host = url.split("/")[2]
        domain_idx = next(d for d, dom in enumerate(domains) if dom in host)
        page_idx = int(url.rsplit("/", 1)[1].split(".")[0])
        html = _render_page(
            rng, url, host, page_idx,
            same_host_urls=urls_by_host[host],
            sub_host_urls=urls_by_host.get(
                f"sub.{domains[domain_idx]}", []),
            external_url=f"https://www.{domains[(domain_idx + 1) % n_domains]}/p/0.html",
        )
        rows.append(_row(url, html, rng))

    # --- oversized pages for the trim/token branches ----------------
    for b in range(big_text_pages):
        url = f"https://www.{domains[0]}/big/{b}.html"
        body = "\n".join(
            f"<p>{_para(rng, 120)}</p>" for _ in range(big_text_kb)
        )
        html = (
            f"<html><head><title>Big page {b}</title></head>"
            f"<body><main><h1>Big {b}</h1>{body}</main></body></html>"
        )
        rows.append(_row(url, html, rng))

    seeds = [f"https://www.{d}/p/0.html" for d in domains]
    return SiteSpec(rows=rows, seeds=seeds)


# Adversarial HTML corpus (VERDICT r1 #8): parser edge cases a real web
# crawl hits constantly. Keys are page slugs; every page flows through
# the same extract pipeline as the generated site, and
# tests/test_extract.py pins HAND-DERIVED expected text for each (so
# the expectation is independent of htmlmini itself).
ADVERSARIAL_HTML: Dict[str, str] = {
    "misnested": (
        "<html><body><main><b><i>bold-italic</b></i> tail"
        "<p>para</main></body></html>"
    ),
    "comment_in_main": (
        "<html><body><main><!-- hidden comment --><p>visible</p>"
        "<!--[if IE]>conditional<![endif]--></main></body></html>"
    ),
    "cdata_in_main": (
        "<html><body><main><p>before</p><![CDATA[raw cdata]]>"
        "<p>after</p></main></body></html>"
    ),
    "entity_edges": (
        "<html><body><main><p>it&#x27;s &amp; bare & amp "
        "&#65; &unknownentity; &gt;</p></main></body></html>"
    ),
    "void_boundaries": (
        "<html><body><main><p>line1<br>line2<br/>line3<hr>"
        '<img src="x.png" alt="pic">after</p></main></body></html>'
    ),
    "multiple_main": (
        "<html><body><main><p>first main</p></main>"
        "<main><p>second main</p></main></body></html>"
    ),
    "cascade_tie": (
        # article appears FIRST in document order, but the reference's
        # selector loop (`crawl4ai_client.py:100-113`) tries 'main'
        # before 'article' — main must win
        "<html><body><article><p>art</p></article>"
        "<main><p>mn</p></main>"
        '<div class="content"><p>dv</p></div></body></html>'
    ),
    "unclosed_tags": (
        "<html><body><main><div><p>open<p>two<div>inner</body></html>"
    ),
    "attr_quirks": (
        '<html><body><main data-x=unquoted CLASS="Content">'
        "<p class>p1</p></main></body></html>"
    ),
    "script_inside_main": (
        "<html><body><main><p>keep</p><script>drop();</script>"
        "<style>.x{}</style><p>also keep</p></main></body></html>"
    ),
    "nested_main_like": (
        # main nested inside a .content div: 'main' selector still
        # matches first in the cascade
        '<html><body><div class="content"><main><p>inner main</p>'
        "</main><p>outer div</p></div></body></html>"
    ),
    "whitespace_entities_title": (
        "<html><head><title>  T&amp;T · x  </title>"
        '<meta name="description" content="d &#x22;q&#x22;"></head>'
        "<body><main><p>body</p></main></body></html>"
    ),
}


def adversarial_rows(host: str = "adversarial.example.com") -> List[dict]:
    """ADVERSARIAL_HTML as page-store rows (url, warc_ts, html, text,
    lang) — appendable to any generated site."""
    rng = random.Random(7)
    return [
        _row(f"https://{host}/{slug}.html", html, rng)
        for slug, html in ADVERSARIAL_HTML.items()
    ]


def _row(url: str, html: str, rng: random.Random) -> dict:
    rec = extraction.extract_page(html, url)
    lang = rng.choices(["en", "es", "de"], weights=[90, 5, 5])[0]
    return {
        "url": url,
        "warc_ts": _warc_ts(url),
        "html": html.encode("utf-8"),
        "text": rec["text"],
        "lang": lang,
    }


def _render_page(
    rng: random.Random,
    url: str,
    host: str,
    page_idx: int,
    same_host_urls: List[str],
    sub_host_urls: List[str],
    external_url: str,
) -> str:
    structure = _STRUCTURES[page_idx % len(_STRUCTURES)]
    n = len(same_host_urls)

    # -- link block: every filter branch --------------------------------
    links: List[str] = []
    # same-host successors: relative + absolute mix (F10/J2 dedup via
    # duplicates; BFS ordering via deterministic positions)
    for k in range(1, 4):
        target = same_host_urls[(page_idx * 3 + k) % n]
        if k == 1:
            links.append(f'<a href="/p/{(page_idx * 3 + k) % n}.html">rel {k}</a>')
        elif k == 2:
            links.append(f'<a href="{target}">abs {k}</a>')
        else:
            links.append(f'<a href="../p/{(page_idx * 3 + k) % n}.html">dotdot {k}</a>')
    # duplicate of the first link (first-enqueue-wins)
    links.append(f'<a href="/p/{(page_idx * 3 + 1) % n}.html">dup</a>')
    # subdomain link (seeder accepts: endswith; client rejects: exact host)
    if sub_host_urls:
        links.append(f'<a href="{sub_host_urls[page_idx % len(sub_host_urls)]}">sub</a>')
    # external domain (rejected by both)
    links.append(f'<a href="{external_url}">ext</a>')
    # fragment / empty (client: dedup-or-miss; seeder: skipped outright)
    links.append('<a href="#section">frag</a>')
    links.append('<a href="">empty</a>')
    # skip extensions & paths
    links.append('<a href="/files/report.pdf">pdf</a>')
    links.append('<a href="/img/pic.jpg">jpg</a>')
    links.append('<a href="/static/app.js">js</a>')
    links.append('<a href="/admin/panel.html">admin</a>')
    links.append('<a href="/api/v1/data">api</a>')
    # dead link — present in the graph but absent from pages (fetch miss)
    links.append(f'<a href="https://{host}/missing/{page_idx}.html">dead</a>')
    # scheme filter (seeder F1)
    links.append('<a href="ftp://files.example.com/x">ftp</a>')
    links.append('<a href="mailto:x@example.com">mail</a>')
    link_html = "\n".join(links)

    # -- content block: markdown + whitespace + entity branches ---------
    content = (
        f"<h1>Page {page_idx} of {host}</h1>\n"
        f"<p>  {_para(rng, 12)}   with   runs    of spaces </p>\n"
        f"<h2>Section &amp; entities &lt;ok&gt;</h2>\n"
        f"<p>{_para(rng, 20)}</p>\n\n\n"
        f"<div><p>nested {_para(rng, 8)}</p></div>\n"
        f"<ul><li>alpha {page_idx}</li><li>beta</li><li></li></ul>\n"
        f"<h3>h3 {_para(rng, 3)}</h3><h4>h4</h4><h5>h5</h5><h6>h6</h6>\n"
        f"{link_html}\n"
    )

    noise = (
        '<script>var x = "&lt;noise&gt;";</script>'
        "<style>.c{color:red}</style>"
        f'<nav><a href="/p/{(page_idx + 7) % n}.html">navlink</a></nav>'
        "<header>HEADER NOISE</header><footer>FOOTER NOISE</footer>"
        "<aside>ASIDE NOISE</aside>"
    )

    title = f"<title>Title {page_idx} · {host}</title>" if page_idx % 5 else ""
    meta = ""
    if page_idx % 3 == 0:
        meta += f'<meta name="description" content="  Desc for page {page_idx}  ">'
    if page_idx % 4 == 0:
        meta += f'<meta name="keywords" content="spark, crawl ,frontier,, p{page_idx} ">'

    head = f"<head>{title}{meta}</head>"

    if structure == "main":
        body = f"<body>{noise}<main>{content}</main><p>outside main</p></body>"
    elif structure == "article":
        body = f"<body>{noise}<article>{content}</article></body>"
    elif structure == "class_content":
        body = f'<body>{noise}<div class="content">{content}</div></body>'
    elif structure == "class_main_content":
        body = f'<body>{noise}<div class="main-content wide">{content}</div></body>'
    elif structure == "id_content":
        body = f'<body>{noise}<div id="content">{content}</div></body>'
    elif structure == "id_main":
        body = f'<body>{noise}<section id="main">{content}</section></body>'
    elif structure == "body_only":
        body = f"<body>{noise}{content}</body>"
    else:  # bare — no body tag at all (last-resort whole-soup branch)
        body = f"{noise}{content}"

    return f"<html>{head}{body}</html>"


def pages_rows_to_spark(spark, rows: List[dict]):
    """Materialize generator rows as a Spark DataFrame in the
    input_hint schema. Rows carrying a ``redirect_to`` key (see
    :func:`redirect_row`) add the optional redirect column that
    switches ``CrawlEngine`` into redirect-following mode."""
    from pyspark.sql import types as T

    from website_to_agent_spark.session import local_frame

    fields = [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
    has_redirects = any("redirect_to" in r for r in rows)
    if has_redirects:
        fields.append(T.StructField("redirect_to", T.StringType(), True))
    schema = T.StructType(fields)
    data = [
        (
            r["url"], r["warc_ts"].replace(tzinfo=None), r["html"],
            r["text"], r["lang"],
        )
        + ((r.get("redirect_to"),) if has_redirects else ())
        for r in rows
    ]
    return local_frame(spark, data, schema)


def redirect_row(url: str, target: str) -> dict:
    """A store row modeling a 301/302: ``redirect_to`` carries the
    Location target (relative allowed); the stub body is what servers
    actually send with a redirect and clients ignore."""
    html = (
        f'<html><head><title>Moved</title></head>'
        f'<body><a href="{target}">Moved</a></body></html>'
    )
    return {
        "url": url,
        "warc_ts": _warc_ts(url),
        "html": html.encode("utf-8"),
        "text": "Moved",
        "lang": "en",
        "redirect_to": target,
    }


def write_pages_parquet(spark, rows: List[dict], path: str) -> None:
    pages_rows_to_spark(spark, rows).write.mode("overwrite").parquet(path)
