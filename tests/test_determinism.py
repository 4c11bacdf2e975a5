"""SURVEY §5.2.5 / R2: identical ordered crawl output under different
parallelism (local[2] vs local[4]) and shuffle-partition counts, in
default client mode and under the production options (catalog,
bloom, robots quotas, revalidation).

Each configuration runs in its own subprocess (a Spark master can't
change within a session); outputs are compared byte-for-byte.
"""

import functools
import json
import os
import subprocess
import sys
from concurrent.futures import ThreadPoolExecutor

_SCRIPT = r"""
import hashlib, json, sys, tempfile
from urllib.parse import urlsplit
from website_to_agent_spark import fixtures
from website_to_agent_spark.session import get_spark
from website_to_agent_spark.operators import recrawl
from website_to_agent_spark.operators.crawl import CrawlEngine, CrawlJob

def sha(s):
    return hashlib.sha256((s or "").encode()).hexdigest()

def crawled_rows(res):
    return [
        (r.job_id, r.url, int(r.fetch_ord), bool(r.success), r.superstep,
         sha(r.text), sha(r.content))
        for r in res.crawled.orderBy("job_id", "fetch_ord").collect()
    ]

cores, parts = int(sys.argv[1]), int(sys.argv[2])
spark = get_spark(app_name=f"det{cores}", cores=cores, shuffle_partitions=parts)
site = fixtures.generate_site(n_pages=40, big_text_pages=0)
pages = fixtures.pages_rows_to_spark(spark, site.rows)
res = CrawlEngine(spark, pages, mode="client").run(
    [CrawlJob("d", site.seeds[0], max_urls=7)]
)
print("RESULT:" + json.dumps({"client": crawled_rows(res)}), flush=True)

# production options, as a scheduled re-crawl runs them: the epoch-1
# snapshot is the crawl above, every third page changed since
snap = recrawl.crawl_snapshots(res.crawled, pages).localCheckpoint()
rows2 = []
for i, r in enumerate(sorted(site.rows, key=lambda r: r["url"])):
    r2 = dict(r)
    if i % 3 == 0:
        r2["html"] = r2["html"].replace(
            b"</body>", b"<main><p>Changed since epoch one.</p></main></body>")
    rows2.append(r2)
pages2 = fixtures.pages_rows_to_spark(spark, rows2)
robots = spark.createDataFrame(
    [(h, ["/p/4"] if h.startswith("www.site1.") else [], 0.5)
     for h in sorted({urlsplit(r["url"]).hostname for r in site.rows})],
    "host string, disallow array<string>, crawl_delay double")
prod = CrawlEngine(
    spark, pages2, mode="client", checkpoint_dir=tempfile.mkdtemp(),
    use_bloom=True, robots=robots, revalidate_with=snap,
).run([CrawlJob(f"p{k}", s, max_urls=4) for k, s in enumerate(site.seeds)])
production = {
    "crawled": crawled_rows(prod),
    "seen": sorted(tuple(r) for r in prod.seen.collect()),
    "revalidated": sorted(tuple(r) for r in prod.revalidated.collect()),
    "supersteps": prod.supersteps,
}
print("RESULT:" + json.dumps({"production": production}))
spark.stop()
"""

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(cores: int, parts: int):
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT, str(cores), str(parts)],
        capture_output=True, text=True, timeout=600, cwd=_ROOT,
    )
    out = {"stderr": proc.stderr[-2000:]}
    for line in proc.stdout.splitlines():
        if line.startswith("RESULT:"):
            out.update(json.loads(line[len("RESULT:"):]))
    return out


@functools.lru_cache(maxsize=None)
def _runs():
    """(local[2], 3 partitions) and (local[4], 7 partitions), run side by
    side; each case's test asserts on both."""
    with ThreadPoolExecutor(2) as pool:
        return list(pool.map(_run, (2, 4), (3, 7)))


def _case(case: str):
    for out in _runs():
        assert case in out, out["stderr"]
    return [out[case] for out in _runs()]


def test_identical_output_across_parallelism():
    a, b = _case("client")
    assert a == b
    assert len(a) > 0 and a[0][2] == 0


def test_identical_output_across_parallelism_production_options():
    pa, pb = _case("production")
    assert pa == pb
    # the production run really exercised each option: several jobs,
    # more than one superstep, pages answered from the snapshot
    assert len({r[0] for r in pa["crawled"]}) > 1
    assert pa["supersteps"] > 1 and pa["revalidated"]
