"""HTTP redirect handling (operators/redirects.py + CrawlEngine
follow mode). The reference's HTTP client follows 301/302 chains
transparently (`crawl4ai_client.py:75` — requests semantics: final
content, final base url, TooManyRedirects past the hop cap); the
page-store engine models that with a `redirect_to` column, and adds
the real-crawler improvement the reference lacks: final-url dedup
(Heritrix/Nutch semantics — a 301 alias and its target fetch once)."""

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from website_to_agent_spark import fixtures
from website_to_agent_spark.operators import redirects as rd
from website_to_agent_spark.operators.crawl import CrawlEngine, CrawlJob

_TS = datetime(2025, 1, 1)
H = "https://www.rsite.example.com"


def _page(url, links, title):
    body = "".join(f'<a href="{u}">l</a> ' for u in links)
    html = (
        f"<html><head><title>{title}</title></head><body><main>"
        f"<h1>{title}</h1><p>Content of {title} with words enough.</p>"
        f"{body}</main></body></html>"
    ).encode()
    return {"url": url, "warc_ts": _TS, "html": html, "text": None,
            "lang": None}


@pytest.fixture(scope="module")
def redirect_site(spark):
    """seed → [R (301→ /pages/p.html), p2, LOOP]; the final page p
    links a RELATIVE `p3.html` (resolves under /pages/, NOT under
    R's /redir/ — the base-url-after-redirect rule)."""
    rows = [
        _page(f"{H}/seed.html",
              [f"{H}/redir/r.html", f"{H}/p2.html", f"{H}/loop/1.html"],
              "Seed"),
        fixtures.redirect_row(f"{H}/redir/r.html", "/pages/p.html"),
        _page(f"{H}/pages/p.html", ["p3.html"], "PageP"),
        _page(f"{H}/p2.html", [f"{H}/pages/p.html"], "PageP2"),
        _page(f"{H}/pages/p3.html", [], "PageP3"),
        _page(f"{H}/redir/p3.html", [], "WrongP3"),
        fixtures.redirect_row(f"{H}/loop/1.html", "/loop/2.html"),
        fixtures.redirect_row(f"{H}/loop/2.html", "/loop/1.html"),
    ]
    return fixtures.pages_rows_to_spark(spark, rows)


def test_resolve_redirects_chains_and_loops(spark, redirect_site):
    edges = rd.redirect_edges(redirect_site)
    assert sorted(tuple(r) for r in edges.collect()) == [
        (f"{H}/loop/1.html", f"{H}/loop/2.html"),
        (f"{H}/loop/2.html", f"{H}/loop/1.html"),
        (f"{H}/redir/r.html", f"{H}/pages/p.html"),
    ]
    urls = spark.createDataFrame(
        [(f"{H}/redir/r.html",), (f"{H}/loop/1.html",), (f"{H}/p2.html",)],
        "url string",
    )
    got = {r.url: (r.final_url, r.n_hops, r.redirect_ok)
           for r in rd.resolve_redirects(urls, edges, max_hops=5).collect()}
    assert got[f"{H}/redir/r.html"] == (f"{H}/pages/p.html", 1, True)
    assert got[f"{H}/p2.html"] == (f"{H}/p2.html", 0, True)
    final, hops, ok = got[f"{H}/loop/1.html"]
    assert hops == 5 and not ok


def test_engine_follows_redirects(spark, redirect_site):
    res = CrawlEngine(spark, redirect_site, mode="client").run(
        [CrawlJob("j", f"{H}/seed.html", max_urls=10)]
    )
    rows = {r.url: r for r in res.crawled.collect()}
    # R records the FINAL page's content under the requested url
    assert rows[f"{H}/redir/r.html"].success
    assert rows[f"{H}/redir/r.html"].title == "PageP"
    # the final page's RELATIVE link resolved against the FINAL base
    assert f"{H}/pages/p3.html" in rows
    assert f"{H}/redir/p3.html" not in rows
    # final-url dedup: p.html is never fetched separately
    assert f"{H}/pages/p.html" not in rows
    assert res.seen.filter(
        F.col("url") == f"{H}/pages/p.html"
    ).count() == 1
    # the loop fails like TooManyRedirects, not crawls
    assert not rows[f"{H}/loop/1.html"].success
    # chains recorded, never silent
    redir = {r.url: (r.final_url, r.n_hops, r.redirect_ok)
             for r in res.redirects.collect()}
    assert redir[f"{H}/redir/r.html"] == (f"{H}/pages/p.html", 1, True)
    assert not redir[f"{H}/loop/1.html"][2]
    res.unpersist()


@pytest.mark.parametrize("seen_filter", ["bloom", "cuckoo"])
def test_engine_redirects_with_bloom_and_robots(spark, redirect_site,
                                                 seen_filter):
    """The production path (seen prefilter + politeness drain) keeps
    the same redirect semantics: finals dedup even though the filter
    has not absorbed them when this step's candidates probe it."""
    robots = spark.createDataFrame(
        [("www.rsite.example.com", [], 0.01)],
        "host string, disallow array<string>, crawl_delay double",
    )
    res = CrawlEngine(
        spark, redirect_site, mode="client", seen_filter=seen_filter,
        robots=robots,
    ).run([CrawlJob("j", f"{H}/seed.html", max_urls=10)])
    rows = {r.url: r for r in res.crawled.collect()}
    assert rows[f"{H}/redir/r.html"].title == "PageP"
    assert f"{H}/pages/p.html" not in rows
    assert res.seen.filter(
        F.col("url") == f"{H}/pages/p.html"
    ).count() == 1
    res.unpersist()


def test_store_without_redirect_column_unchanged(spark, redirect_site):
    """Dropping the column = the old store shape: redirect pages are
    ordinary rows (their stub body crawls), result.redirects is None."""
    plain = redirect_site.drop("redirect_to")
    res = CrawlEngine(spark, plain, mode="client").run(
        [CrawlJob("j", f"{H}/seed.html", max_urls=10)]
    )
    assert res.redirects is None
    rows = {r.url: r for r in res.crawled.collect()}
    assert rows[f"{H}/redir/r.html"].title == "Moved"
    assert f"{H}/pages/p.html" in rows
    res.unpersist()


def test_seeder_mode_follows_redirects(spark, redirect_site):
    res = CrawlEngine(spark, redirect_site, mode="seeder").run(
        [CrawlJob("j", f"{H}/seed.html", max_urls=20)]
    )
    seen_urls = {r.url for r in res.seen.collect()}
    # discovery through the redirect: p3 found via R's final content
    assert f"{H}/pages/p3.html" in seen_urls
    assert f"{H}/redir/p3.html" not in seen_urls
    res.unpersist()


def test_failed_chain_on_duplicate_src_edges_one_row(spark):
    """A chain that fails on a url with several outgoing edges
    (duplicate-src rows, e.g. two store snapshots of one redirect
    page) still yields ONE row per input url, and the broadcast and
    whole-store forms agree."""
    edges = spark.createDataFrame(
        [(f"{H}/a", f"{H}/b"), (f"{H}/b", f"{H}/c"), (f"{H}/b", f"{H}/c"),
         (f"{H}/b", f"{H}/d")],
        "src string, dst string",
    )
    urls = spark.createDataFrame([(f"{H}/a",), (f"{H}/z",)], "url string")
    forms = [
        sorted(tuple(r) for r in rd.resolve_redirects(
            urls, edges, max_hops=1, broadcast_urls=bc).collect())
        for bc in (True, False)
    ]
    assert forms[0] == forms[1] == [
        (f"{H}/a", f"{H}/b", 1, False),
        (f"{H}/z", f"{H}/z", 0, True),
    ]


def test_final_destinations_whole_store(spark, redirect_site):
    fin = {r.url: (r.final_url, r.redirect_ok)
           for r in rd.final_destinations(redirect_site).collect()}
    assert fin[f"{H}/redir/r.html"] == (f"{H}/pages/p.html", True)
    assert fin[f"{H}/seed.html"] == (f"{H}/seed.html", True)
    assert not fin[f"{H}/loop/1.html"][1]
    assert not fin[f"{H}/loop/2.html"][1]


def test_adaptive_crawl_delay(spark):
    """Failure-driven backoff: a host at 100% failures doubles its
    delay (capped), a healthy host keeps its delay, an unlisted
    failing host gets a backoff row, and a second failing round
    multiplies again (exponential, stateless)."""
    from website_to_agent_spark.operators.politeness import (
        adaptive_crawl_delay,
    )

    robots = spark.createDataFrame(
        [("good.test", [], 0.01), ("bad.test", [], 0.01),
         ("idle.test", [], 0.25)],
        "host string, disallow array<string>, crawl_delay double",
    )
    crawled = spark.createDataFrame(
        [("https://good.test/a", True), ("https://good.test/b", True),
         ("https://bad.test/a", False), ("https://bad.test/b", False),
         ("https://new.test/a", False)],
        "url string, success boolean",
    )
    r2 = adaptive_crawl_delay(crawled, robots, default_delay=0.5)
    d = {r.host: r.crawl_delay for r in r2.collect()}
    assert d["good.test"] == 0.01
    assert d["bad.test"] == 0.02
    assert d["idle.test"] == 0.25          # no traffic → unchanged
    assert d["new.test"] == 1.0            # default 0.5 × factor
    r3 = adaptive_crawl_delay(crawled, r2)
    d3 = {r.host: r.crawl_delay for r in r3.collect()}
    assert d3["bad.test"] == 0.04          # exponential across rounds
    # cap
    rx = adaptive_crawl_delay(crawled, robots, factor=1e9, max_delay=60.0)
    assert {r.host: r.crawl_delay for r in rx.collect()}["bad.test"] == 60.0


def test_whole_store_form_has_no_broadcast_hints(spark, redirect_site):
    """broadcast_urls=False (the corpus-scale canonicalization form)
    must not FORCE broadcasts of mover/settled sets — at 10^8 redirect
    rows a forced broadcast OOMs (review finding). AQE may still pick
    broadcasts at runtime from actual sizes; the assertion is on the
    forced hints only."""
    plan = rd.final_destinations(redirect_site)._jdf.queryExecution() \
        .analyzed().toString()
    assert "ResolvedHint" not in plan
    batch_plan = rd.resolve_redirects(
        redirect_site.select("url"), rd.redirect_edges(redirect_site),
        broadcast_urls=True,
    )._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" in batch_plan


def test_adaptive_delay_host_case_normalized(spark):
    """A robots row with 'Example.com' must not fork into two rows for
    one logical host (review finding); case-duplicates merge with the
    conservative max delay + union of prefixes."""
    from website_to_agent_spark.operators.politeness import (
        adaptive_crawl_delay,
    )

    robots = spark.createDataFrame(
        [("Bad.test", ["/a"], 0.01), ("bad.test", ["/b"], 0.03)],
        "host string, disallow array<string>, crawl_delay double",
    )
    crawled = spark.createDataFrame(
        [("https://bad.test/a", False), ("https://bad.test/b", False)],
        "url string, success boolean",
    )
    out = adaptive_crawl_delay(crawled, robots)
    rows = out.collect()
    assert len(rows) == 1
    assert rows[0].host == "bad.test"
    assert rows[0].crawl_delay == 0.06          # max(0.01, 0.03) × 2
    assert sorted(rows[0].disallow) == ["/a", "/b"]
