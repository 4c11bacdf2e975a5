"""Conditional revalidation (If-None-Match → 304): the standalone
``recrawl.revalidate`` status pass and the engine's
``revalidate_with`` reuse path — a re-crawl must be bit-identical to
a plain crawl of the new store while skipping the Arrow parse kernel
for every digest-unchanged page (links replayed from the snapshot's
link-DB column)."""

import os
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from website_to_agent_spark import fixtures
from website_to_agent_spark.operators import recrawl
from website_to_agent_spark.operators.crawl import CrawlEngine, CrawlJob
from website_to_agent_spark.sources.catalog import SnapshotCatalog

_TS = datetime(2025, 1, 1)


def test_revalidate_statuses(spark):
    snaps = spark.createDataFrame(
        [("u1", "d1"), ("u2", "XX"), ("u3", "d3")],
        "url string, digest string",
    )
    pages = spark.createDataFrame(
        [("u1", b"one"), ("u2", b"two")], "url string, html binary"
    )
    # align digests with real md5s
    md5s = {r.url: r.m for r in pages.select(
        "url", F.md5("html").alias("m")).collect()}
    snaps = spark.createDataFrame(
        [("u1", md5s["u1"]), ("u2", "stale-digest"), ("u3", "d3")],
        "url string, digest string",
    )
    got = {r.url: r.status
           for r in recrawl.revalidate(snaps, pages).collect()}
    assert got == {"u1": "not_modified", "u2": "modified", "u3": "gone"}


@pytest.fixture(scope="module")
def two_version_store(spark):
    site = fixtures.generate_site(n_pages=20, big_text_pages=0)
    v1 = fixtures.pages_rows_to_spark(spark, site.rows)
    res1 = CrawlEngine(spark, v1, mode="client").run(
        [CrawlJob("j", site.seeds[0], max_urls=6)]
    )
    snap = recrawl.crawl_snapshots(res1.crawled, v1).localCheckpoint()
    changed = (
        res1.crawled.filter(F.col("success"))
        .orderBy("fetch_ord").collect()[2].url
    )
    rows2 = []
    for r in site.rows:
        r2 = dict(r)
        if r2["url"] == changed:
            r2["html"] = r2["html"].replace(
                b"</body>",
                b"<main><p>An updated paragraph appears now.</p>"
                b"</main></body>",
            )
        rows2.append(r2)
    v2 = fixtures.pages_rows_to_spark(spark, rows2)
    res1.unpersist()
    return site, v2, snap, changed


def test_engine_304_reuse_matches_plain_recrawl(spark, two_version_store):
    site, v2, snap, changed = two_version_store
    res = CrawlEngine(spark, v2, mode="client", revalidate_with=snap).run(
        [CrawlJob("j", site.seeds[0], max_urls=6)]
    )
    plain = CrawlEngine(spark, v2, mode="client").run(
        [CrawlJob("j", site.seeds[0], max_urls=6)]
    )
    o_a = [(r.fetch_ord, r.url, r.success)
           for r in res.crawled.orderBy("fetch_ord").collect()]
    o_b = [(r.fetch_ord, r.url, r.success)
           for r in plain.crawled.orderBy("fetch_ord").collect()]
    assert o_a == o_b
    c_a = {r.url: r for r in res.crawled.filter("success").collect()}
    c_b = {r.url: r for r in plain.crawled.filter("success").collect()}
    for u in c_a:
        assert c_a[u].text == c_b[u].text, u
        assert c_a[u].content == c_b[u].content, u
        assert c_a[u].title == c_b[u].title, u
    reval = {r.url for r in res.revalidated.collect()}
    # every unchanged page skipped the parse; the changed one did not
    assert changed not in reval
    assert len(reval) == len(c_a) - 1
    assert "updated paragraph" in c_a[changed].text
    res.unpersist()
    plain.unpersist()


def test_no_snapshot_means_no_table(spark, two_version_store):
    site, v2, _, _ = two_version_store
    res = CrawlEngine(spark, v2, mode="client").run(
        [CrawlJob("j", site.seeds[0], max_urls=3)]
    )
    assert res.revalidated is None
    res.unpersist()


@pytest.fixture(scope="module")
def compose(spark, tmp_path_factory):
    """A store exercising all three s6 engine features — a seed
    linking a 301 alias (r.html → p.html → q.html), a rel=nofollow
    anchor (nf.html) and a noindex page (b.html) — crawled twice in
    production shape (bloom + politeness + robots meta): r1 plain, r2
    with a catalog and 304 reuse against r1's snapshot.

    Returns ``(pages, kw, jobs, r1, r2)``; ``kw`` is r2's engine
    options without its ``checkpoint_dir``."""
    H = "https://www.allf.example.com"

    def page(url, body, meta=""):
        return {"url": url, "warc_ts": _TS,
                "html": (f"<html><head><title>t</title>{meta}</head>"
                         f"<body><main><p>words for {url}.</p>{body}"
                         f"</main></body></html>").encode(),
                "text": None, "lang": None}

    rows = [
        page(f"{H}/seed.html",
             f'<a href="{H}/r.html">go</a>'
             f'<a href="{H}/nf.html" rel="nofollow">no</a>'
             f'<a href="{H}/b.html">b</a>'),
        fixtures.redirect_row(f"{H}/r.html", "/p.html"),
        page(f"{H}/p.html", f'<a href="{H}/q.html">q</a>'),
        page(f"{H}/q.html", ""),
        page(f"{H}/nf.html", ""),
        page(f"{H}/b.html", "", meta='<meta name="robots" content="noindex">'),
    ]
    pages = fixtures.pages_rows_to_spark(spark, rows)
    robots = spark.createDataFrame(
        [("www.allf.example.com", [], 0.005)],
        "host string, disallow array<string>, crawl_delay double",
    )
    kw = dict(mode="client", honor_meta_robots=True, robots=robots,
              use_bloom=True)
    jobs = [CrawlJob("j", f"{H}/seed.html", max_urls=9)]
    r1 = CrawlEngine(spark, pages, **kw).run(jobs)
    snap = recrawl.crawl_snapshots(r1.crawled, pages).localCheckpoint()
    kw["revalidate_with"] = snap
    ckpt = str(tmp_path_factory.mktemp("compose") / "ckpt")
    r2 = CrawlEngine(spark, pages, checkpoint_dir=ckpt, **kw).run(jobs)
    yield pages, kw, jobs, r1, r2
    r1.unpersist()
    r2.unpersist()


def test_redirects_revalidation_and_meta_robots_compose(compose):
    """All three s6 engine features in ONE production-shaped run
    (bloom + politeness + redirects + 304 reuse + robots meta):
    the re-crawl is bit-identical to round 1, the redirect final
    dedups, the nofollow anchor never crawls, noindex is flagged,
    and every digest-unchanged page reuses (the redirect row itself
    conservatively re-fetches — stub-digest mismatch, documented)."""
    _, _, _, r1, r2 = compose
    o1 = [(r.fetch_ord, r.url, r.success, r.text)
          for r in r1.crawled.orderBy("fetch_ord").collect()]
    o2 = [(r.fetch_ord, r.url, r.success, r.text)
          for r in r2.crawled.orderBy("fetch_ord").collect()]
    assert o1 == o2
    urls = {u.rsplit("/", 1)[1] for _, u, s, _ in o1 if s}
    assert urls == {"seed.html", "r.html", "q.html", "b.html"}
    assert {r.url.rsplit("/", 1)[1] for r in r2.noindexed.collect()} \
        == {"b.html"}
    assert [(r.url.rsplit("/", 1)[1], r.n_hops)
            for r in r2.redirects.collect()] == [("r.html", 1)]
    assert sorted(r.url.rsplit("/", 1)[1]
                  for r in r2.revalidated.collect()) \
        == ["b.html", "q.html", "seed.html"]


def _compose_outputs(res):
    """Everything a resume must reproduce: the ordered crawled rows,
    the seen set and the three per-row side tables."""
    return (
        [(r.fetch_ord, r.url, r.success, r.text)
         for r in res.crawled.orderBy("fetch_ord").collect()],
        sorted(r.url for r in res.seen.collect()),
        *(sorted(tuple(r) for r in t.collect())
          for t in (res.redirects, res.revalidated, res.noindexed)),
    )


class _Killed(Exception):
    """Raised where a killed process would have stopped."""


class _WriteKills:
    """A commit table whose write dies before it starts."""

    @property
    def write(self):
        raise _Killed("table write")


def _fail_commit(m, point: str, superstep: int) -> None:
    """Make ``SnapshotCatalog.commit`` of ``superstep`` fail at
    ``point``: before any table write, after the first two tables, or
    at the manifest rename. Each leaves the files a kill there would."""
    commit = SnapshotCatalog.commit

    def failing(self, step, tables, **kw):
        if step == superstep:
            if point == "before_tables":
                raise _Killed(point)
            if point == "after_two_tables":
                tables = {name: df if i < 2 else _WriteKills()
                          for i, (name, df) in enumerate(tables.items())}
            if point == "at_manifest":
                replace = os.replace

                def dying_replace(src, dst):
                    if os.path.basename(dst) == "_MANIFEST.json":
                        raise _Killed(point)
                    return replace(src, dst)

                m.setattr(os, "replace", dying_replace)
        return commit(self, step, tables, **kw)

    m.setattr(SnapshotCatalog, "commit", failing)


@pytest.mark.parametrize(
    "kill", [None, "before_tables", "after_two_tables", "at_manifest"])
def test_compose_crawl_resumes_to_the_same_result(spark, compose, tmp_path,
                                                  monkeypatch, kill):
    """r2's crawl, stopped and resumed from its catalog by a fresh
    engine, equals the uninterrupted r2 — crawled rows, seen set and
    the redirects / revalidated / noindexed tables. It stops either
    after two supersteps (``kill`` None) or by an in-process failure
    at one point of superstep 1's commit."""
    pages, kw, jobs, _, r2 = compose
    ckpt = str(tmp_path / "ckpt")
    if kill is None:
        CrawlEngine(spark, pages, checkpoint_dir=ckpt, max_supersteps=2,
                    **kw).run(jobs).unpersist()
    else:
        with monkeypatch.context() as m:
            _fail_commit(m, kill, superstep=1)
            with pytest.raises(_Killed):
                CrawlEngine(spark, pages, checkpoint_dir=ckpt,
                            **kw).run(jobs)
        assert SnapshotCatalog(ckpt).latest_superstep() == 0
        step1 = os.path.join(ckpt, "superstep=1")
        left = set(os.listdir(step1)) if os.path.isdir(step1) else set()
        tables = {"frontier.parquet", "job_state.parquet"}
        assert left == {
            "before_tables": set(),
            "after_two_tables": tables,
            "at_manifest": tables | {"crawled_delta.parquet",
                                     "metrics_delta.parquet",
                                     "seen_delta.parquet",
                                     "_MANIFEST.json.tmp"},
        }[kill]
    resumed = CrawlEngine(spark, pages, checkpoint_dir=ckpt, **kw).run(
        jobs, resume=True)
    assert _compose_outputs(resumed) == _compose_outputs(r2)
    resumed.unpersist()


def test_multi_job_snapshot_dedups_by_url(spark, two_version_store):
    """Two jobs crawling overlapping urls yield ONE snapshot row per
    url (review finding: duplicate snapshot rows would duplicate
    fetched rows through the reuse join and corrupt the budget)."""
    site, v2, _, _ = two_version_store
    v1 = fixtures.pages_rows_to_spark(spark, site.rows)
    res = CrawlEngine(spark, v1, mode="client").run([
        CrawlJob("j1", site.seeds[0], max_urls=5),
        CrawlJob("j2", site.seeds[0], max_urls=5),
    ])
    snap = recrawl.crawl_snapshots(res.crawled, v1).localCheckpoint()
    dup = (snap.groupBy("url").count().filter("count > 1").count())
    assert dup == 0
    # and a re-crawl with the multi-job snapshot stays bit-identical
    # to a plain run
    r_a = CrawlEngine(spark, v1, mode="client", revalidate_with=snap).run(
        [CrawlJob("j", site.seeds[0], max_urls=5)])
    r_b = CrawlEngine(spark, v1, mode="client").run(
        [CrawlJob("j", site.seeds[0], max_urls=5)])
    o_a = [(r.fetch_ord, r.url, r.success)
           for r in r_a.crawled.orderBy("fetch_ord").collect()]
    o_b = [(r.fetch_ord, r.url, r.success)
           for r in r_b.crawled.orderBy("fetch_ord").collect()]
    assert o_a == o_b
    res.unpersist(); r_a.unpersist(); r_b.unpersist()


def test_null_html_store_row_never_vanishes(spark):
    """A successful fetch of a NULL-html store row must re-extract
    (empty page), not disappear, when its url is in the snapshot
    (review finding: a NULL reuse predicate dropped it from all three
    splits)."""
    H = "https://www.nh.example.com"
    rows = [
        {"url": f"{H}/seed.html", "warc_ts": _TS,
         "html": (f'<html><body><main><p>s</p><a href="{H}/n.html">n'
                  f'</a></main></body></html>').encode(),
         "text": None, "lang": None},
        {"url": f"{H}/n.html", "warc_ts": _TS, "html": None,
         "text": None, "lang": None},
    ]
    pages = fixtures.pages_rows_to_spark(spark, rows)
    snap = spark.createDataFrame(
        [(f"{H}/n.html", "no-such-digest", "t", "d", ["k"], "x", "m",
          "c", [])],
        "url string, digest string, title string, description string,"
        " keywords array<string>, text string, markdown string,"
        " content string, links array<struct<url:string,pos:int>>",
    )
    res = CrawlEngine(spark, pages, mode="client",
                      revalidate_with=snap).run(
        [CrawlJob("j", f"{H}/seed.html", max_urls=5)])
    rows_out = {r.url: r for r in res.crawled.collect()}
    assert f"{H}/n.html" in rows_out
    assert rows_out[f"{H}/n.html"].success
    assert res.revalidated.count() == 0
    res.unpersist()
