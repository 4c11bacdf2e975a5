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
from website_to_agent_spark.operators import recrawl
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


@pytest.fixture(scope="module")
def crawl(spark, redirect_site):
    """``crawl(plain=False, seen_filter=None, revalidate=False) ->
    (result, jobs)``: one client crawl of the redirect store
    (``plain``: the same store without ``redirect_to``) from the seed,
    ``max_urls=10``, run once per option set and shared by this
    module's tests. A ``seen_filter`` crawl also drains through a
    robots table; a ``revalidate`` crawl revalidates against the
    snapshot of the default crawl. ``jobs`` is the mean number of Spark
    jobs per superstep of the run, counted through the public status
    API (the run's jobs carry their own job group)."""
    robots = spark.createDataFrame(
        [("www.rsite.example.com", [], 0.01)],
        "host string, disallow array<string>, crawl_delay double",
    )
    sc = spark.sparkContext
    runs = {}

    def run(plain=False, seen_filter=None, revalidate=False):
        key = (plain, seen_filter, revalidate)
        if key not in runs:
            store = redirect_site.drop("redirect_to") if plain \
                else redirect_site
            kw = dict(seen_filter=seen_filter, robots=robots) \
                if seen_filter else {}
            if revalidate:
                kw["revalidate_with"] = recrawl.crawl_snapshots(
                    run()[0].crawled, redirect_site).localCheckpoint()
            group = f"redirect-crawl-{plain}-{seen_filter}-{revalidate}"
            sc.setJobGroup(group, group)
            try:
                res = CrawlEngine(spark, store, mode="client", **kw).run(
                    [CrawlJob("j", f"{H}/seed.html", max_urls=10)])
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
            runs[key] = (res, n_jobs / res.supersteps)
        return runs[key]

    yield run
    for res, _ in runs.values():
        res.unpersist()


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


def test_engine_follows_redirects(crawl):
    res, _ = crawl()
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


@pytest.mark.parametrize("seen_filter", ["bloom", "cuckoo"])
def test_engine_redirects_with_bloom_and_robots(crawl, seen_filter):
    """The production path (seen prefilter + politeness drain) keeps
    the same redirect semantics: finals dedup even though the filter
    has not absorbed them when this step's candidates probe it."""
    res, _ = crawl(seen_filter=seen_filter)
    rows = {r.url: r for r in res.crawled.collect()}
    assert rows[f"{H}/redir/r.html"].title == "PageP"
    assert f"{H}/pages/p.html" not in rows
    assert res.seen.filter(
        F.col("url") == f"{H}/pages/p.html"
    ).count() == 1


def test_store_without_redirect_column_unchanged(crawl):
    """Dropping the column = the old store shape: redirect pages are
    ordinary rows (their stub body crawls), result.redirects is None."""
    res, _ = crawl(plain=True)
    assert res.redirects is None
    rows = {r.url: r for r in res.crawled.collect()}
    assert rows[f"{H}/redir/r.html"].title == "Moved"
    assert f"{H}/pages/p.html" in rows


def test_seeder_mode_follows_redirects(spark, redirect_site):
    res = CrawlEngine(spark, redirect_site, mode="seeder").run(
        [CrawlJob("j", f"{H}/seed.html", max_urls=20)]
    )
    seen_urls = {r.url for r in res.seen.collect()}
    # discovery through the redirect: p3 found via R's final content
    assert f"{H}/pages/p3.html" in seen_urls
    assert f"{H}/redir/p3.html" not in seen_urls
    res.unpersist()


def test_redirect_superstep_job_overhead_bounded(crawl):
    """Following redirects costs a small constant number of Spark jobs
    per superstep over the same crawl of the plain store: the chains
    resolve once per crawl, not once per superstep."""
    for seen_filter in (None, "bloom"):
        _, redir = crawl(seen_filter=seen_filter)
        _, base = crawl(plain=True, seen_filter=seen_filter)
        assert redir <= base + 20, (seen_filter, redir, base)


def test_revalidation_superstep_job_overhead_bounded(crawl):
    """Revalidation costs a small constant number of Spark jobs per
    superstep: the snapshot attaches to the drained batch once, before
    the store fetch. A bloom + robots redirect crawl with it also
    crawls the same rows and seen set as without it."""
    reval_res, reval = crawl(seen_filter="bloom", revalidate=True)
    base_res, base = crawl(seen_filter="bloom")
    assert reval <= base + 10, (reval, base)
    assert _redirect_crawl_rows(reval_res) == _redirect_crawl_rows(base_res)


def _redirect_crawl_rows(res):
    return ([(r.url, r.success, r.text)
             for r in res.crawled.orderBy("fetch_ord").collect()],
            sorted(r.url for r in res.seen.collect()))


def test_redirect_crawl_resumes_and_releases_closure(spark, redirect_site,
                                                     crawl, tmp_path):
    """A redirect crawl interrupted after one superstep and resumed by
    a fresh engine (which rebuilds the redirect closure) equals one
    uninterrupted run: ordered crawled rows and the seen set. After
    unpersist(), executor storage is back to its level before the
    two runs: neither the closure nor the edge table it was walked
    over stays pinned."""
    from test_scale_path import _cached_rdd_ids, _wait_until

    jobs = [CrawlJob("j", f"{H}/seed.html", max_urls=10)]
    want = _redirect_crawl_rows(crawl()[0])
    before = _cached_rdd_ids(spark)
    ckpt = str(tmp_path / "ckpt")
    CrawlEngine(spark, redirect_site, mode="client", checkpoint_dir=ckpt,
                max_supersteps=1).run(jobs).unpersist(blocking=True)
    resumed = CrawlEngine(spark, redirect_site, mode="client",
                          checkpoint_dir=ckpt).run(jobs, resume=True)
    assert _redirect_crawl_rows(resumed) == want
    resumed.unpersist(blocking=True)
    assert _wait_until(lambda: not (_cached_rdd_ids(spark) - before)), (
        _cached_rdd_ids(spark) - before
    )


def test_failed_chain_on_duplicate_src_edges_one_row(spark):
    """A chain that fails on a url with several outgoing edges
    (duplicate-src rows, e.g. two store snapshots of one redirect
    page) still yields ONE row per input url."""
    edges = spark.createDataFrame(
        [(f"{H}/a", f"{H}/b"), (f"{H}/b", f"{H}/c"), (f"{H}/b", f"{H}/c"),
         (f"{H}/b", f"{H}/d")],
        "src string, dst string",
    )
    urls = spark.createDataFrame([(f"{H}/a",), (f"{H}/z",)], "url string")
    assert sorted(tuple(r) for r in rd.resolve_redirects(
        urls, edges, max_hops=1).collect()) == [
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
    """The chain walk (run over the whole store for url
    canonicalization) must not FORCE broadcasts of mover sets — at
    10^8 redirect rows a forced broadcast OOMs (review finding). AQE
    may still pick broadcasts at runtime from actual sizes; the
    assertion is on the forced hints only."""
    plan = rd.final_destinations(redirect_site)._jdf.queryExecution() \
        .analyzed().toString()
    assert "ResolvedHint" not in plan


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
