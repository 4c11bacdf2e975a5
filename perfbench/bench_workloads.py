"""The benchmark's workloads: input build, warm-up, one timed run, the
output check, and the per-layer numbers of a traced run.

A workload is driven in this order by ``run.py``::

    generate()            pure Python, seeded inputs (once)
    load()                Spark-side input tables / WARC shards (repeated;
                          the median is part of setup_s)
    warm()                one-time warm-up; epoch 1 for the re-crawl
    run(i, tracer)        one timed run -> delivered result (driver side)
    check(result)         output check, outside the timed span
    release(result)       free the run's Spark storage
    layers(result, tr)    per-layer metrics of a traced run + replays

Each engine layer is called only through its public API. The replay
spans call one layer's public function standalone, at the traffic size
the workload's own run produced.
"""

from __future__ import annotations

import hashlib
import io
import math
import os
import random
import time
from contextlib import redirect_stdout
from typing import Dict, List
from urllib.parse import urlparse

from pyspark.sql import functions as F

from website_to_agent_spark import fixtures, reference_sim
from website_to_agent_spark.functions import urlfns
from website_to_agent_spark.functions.extract import extract_udf
from website_to_agent_spark.operators import bloom, indexing, politeness
from website_to_agent_spark.operators import recrawl, redirects
from website_to_agent_spark.operators.crawl import CrawlEngine, CrawlJob
from website_to_agent_spark.sources import warc
from website_to_agent_spark.sources.catalog import SnapshotCatalog

import bench_inputs
from bench_trace import parse_step_lines

# Per-layer metrics reported by every traced run (0 where the workload
# does not exercise the layer). name -> unit.
LAYER_METRICS: Dict[str, str] = {
    "crawl.supersteps": "count",
    "crawl.spark_jobs": "count",
    "crawl.jobs_per_step": "count",
    "crawl.tasks": "count",
    "crawl.step_s": "s",
    "crawl.drain_s": "s",
    "crawl.bundle_s": "s",
    "crawl.frontier_s": "s",
    "crawl.state_s": "s",
    "crawl.fetched": "count",
    "crawl.fetch_ok_ratio": "ratio",
    "crawl.links_found": "count",
    "crawl.seen_urls": "count",
    "extract.pages": "count",
    "extract.busy_s": "s",
    "extract.pages_per_core_s": "1/s",
    "extract.mb_in": "MB",
    "extract.mismatches": "count",
    "warc.records": "count",
    "warc.parse_s": "s",
    "warc.mb_read": "MB",
    "catalog.commits": "count",
    "catalog.bytes_written": "bytes",
    "catalog.files_written": "count",
    "catalog.write_amp": "ratio",
    "catalog.commit_s": "s",
    "bloom.build_s": "s",
    "bloom.probe_s": "s",
    "bloom.negative_share": "ratio",
    "bloom.false_positive_share": "ratio",
    "politeness.drain_s": "s",
    "politeness.deferred_share": "ratio",
    "recrawl.revalidate_s": "s",
    "recrawl.reused_share": "ratio",
    "recrawl.snapshot_s": "s",
    "redirects.followed": "count",
    "redirects.failed": "count",
    "redirects.resolve_s": "s",
    "indexing.delta_docs": "count",
    "indexing.postings_rows": "count",
    "indexing.delta_s": "s",
    "indexing.merge_s": "s",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.storage_mb_after": "MB",
    "trace.overhead_share": "ratio",
}

# Sizes per scale. "full" is what the benchmark measures; "tiny" is the
# self-test smoke scale.
SCALES = {
    "full": {
        "extract_bulk": dict(n_unique=200, copies=10, pad_kb=8),
        "crawl_fanout": dict(n_pages=2000, n_domains=16, n_jobs=64,
                             max_urls=8, ref_jobs=16),
        "recrawl_durable": dict(n_pages=1000, n_domains=16, n_jobs=16,
                                max_urls=4, crawl_delay=0.2),
    },
    "tiny": {
        "extract_bulk": dict(n_unique=40, copies=2, pad_kb=2),
        "crawl_fanout": dict(n_pages=120, n_domains=4, n_jobs=4,
                             max_urls=1, ref_jobs=2),
        "recrawl_durable": dict(n_pages=120, n_domains=4, n_jobs=4,
                                max_urls=1, crawl_delay=0.2),
    },
}


def noop(df) -> None:
    """Fully compute a DataFrame without moving rows to the driver."""
    df.write.format("noop").mode("overwrite").save()


def host(url: str) -> str:
    return urlparse(url).netloc.lower()


def dir_footprint(path: str):
    n_files = n_bytes = 0
    for d, _, files in os.walk(path):
        for f in files:
            n_files += 1
            n_bytes += os.path.getsize(os.path.join(d, f))
    return n_files, n_bytes


def crawl_step_metrics(steps: List[dict]) -> dict:
    """crawl.* phase totals from the engine's per-superstep lines."""
    n = len(steps)
    jobs = sum(s.get("total_jobs", 0) for s in steps)
    return {
        "crawl.spark_jobs": jobs,
        "crawl.jobs_per_step": jobs / n if n else 0.0,
        "crawl.step_s": sum(s.get("total_s", 0.0) for s in steps) / n if n else 0.0,
        "crawl.drain_s": sum(s.get("empty_s", 0.0) for s in steps),
        "crawl.bundle_s": sum(s.get("bundle_s", 0.0) for s in steps),
        "crawl.frontier_s": sum(s.get("frontier_s", 0.0) for s in steps),
        "crawl.state_s": sum(s.get("state_s", 0.0) for s in steps),
    }


class Workload:
    name = ""
    why = ""

    def __init__(self, spark, seed: int, work: str, scale: str, cores: int):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.cores = cores
        self.cfg = SCALES[scale][self.name]
        self._cached: list = []

    # -- helpers -------------------------------------------------------
    def _persist(self, df):
        df = df.persist()
        df.count()
        self._cached.append(df)
        return df

    def _unpersist_loaded(self) -> None:
        for df in self._cached:
            df.unpersist(blocking=True)
        self._cached = []

    def _traced_crawl(self, engine, jobs, tracer, run_id):
        """engine.run inside a span; when tracing, the engine's
        per-superstep timing lines are captured and parsed."""
        if not tracer.enabled:
            return engine.run(jobs), []
        buf = io.StringIO()
        os.environ["SPARK_GRAFT_STEP_TIMING"] = "1"
        try:
            with tracer.span("crawl.CrawlEngine.run", run_id), redirect_stdout(buf):
                res = engine.run(jobs)
        finally:
            os.environ.pop("SPARK_GRAFT_STEP_TIMING", None)
        return res, parse_step_lines(buf.getvalue())

    def _crawl_invariants(self, rows, max_urls, oracle) -> List[str]:
        """Per-job: successes <= max_urls, no url twice, and every
        successful page's text equals the store oracle."""
        errs = []
        by_job: Dict[str, list] = {}
        for r in rows:
            by_job.setdefault(r["job_id"], []).append(r)
        for job, rs in by_job.items():
            ok = sum(1 for r in rs if r["success"])
            if ok > max_urls:
                errs.append(f"{job}: {ok} successes > max_urls {max_urls}")
            urls = [r["url"] for r in rs]
            if len(urls) != len(set(urls)):
                errs.append(f"{job}: a url was fetched twice")
            for r in rs:
                if not r["success"]:
                    continue
                if r["text"] != oracle.get(r["url"]):
                    errs.append(f"{job}: text mismatch at {r['url']}")
        return errs

    def release(self, result) -> None:
        res = result.pop("_res", None)
        if res is not None:
            res.unpersist(blocking=True)

    def close(self) -> None:
        self._unpersist_loaded()


# ====================================================================
class ExtractBulk(Workload):
    name = "extract_bulk"
    why = ("WARC shards -> warc_pages -> extract_udf: the Arrow parse "
           "kernel and the WARC reader do nearly all the work; no crawl.")

    def generate(self) -> None:
        c = self.cfg
        self.rows = bench_inputs.bulk_pages(self.seed, c["n_unique"],
                                            c["copies"], c["pad_kb"])
        self.oracle = {r["url"]: r["text"] for r in self.rows}
        self.html_bytes = sum(len(r["html"]) for r in self.rows)
        self.warc_dir = os.path.join(self.work, "warc")

    def load(self) -> None:
        self._unpersist_loaded()
        self.pages = self._persist(
            fixtures.pages_rows_to_spark(self.spark, self.rows))

    def warm(self) -> None:
        """Write the WARC shards once, then one untimed extraction."""
        manifest = warc.warc_sink(
            self.pages.withColumn("status_code", F.lit(200))
            .withColumn("content_type", F.lit("text/html; charset=utf-8")),
            self.warc_dir, n_shards=2 * self.cores, mode="overwrite",
        ).collect()
        self.records_written = sum(r.n_records for r in manifest)
        self.warc_bytes = dir_footprint(self.warc_dir)[1]
        self._pipeline().toPandas()

    def _pipeline(self):
        pages = warc.warc_pages(self.spark, self.warc_dir)
        return pages.select(
            "url", extract_udf(F.col("url"), F.col("html")).alias("e")
        ).select("url", F.col("e.text").alias("text"))

    def run(self, run_id: str, tracer) -> dict:
        t0 = time.perf_counter()
        with tracer.span("extract.warc_pages+extract_udf", run_id):
            pdf = self._pipeline().toPandas()
        wall = time.perf_counter() - t0
        return {"wall_s": wall, "pages": len(pdf),
                "rows": pdf.to_dict("records")}

    def check(self, result) -> List[str]:
        rows = result["rows"]
        errs = []
        if len(rows) != self.records_written:
            errs.append(f"{len(rows)} pages != {self.records_written} records written")
        mism = sum(1 for r in rows if self.oracle.get(r["url"]) != r["text"])
        if mism:
            errs.append(f"{mism} pages differ from the oracle text")
        if len({r["url"] for r in rows}) != len(rows):
            errs.append("duplicate urls in the output")
        result["mismatches"] = mism
        return errs

    def layers(self, result, tracer) -> dict:
        with tracer.span("replay.warc.warc_pages") as sp_w:
            noop(warc.warc_pages(self.spark, self.warc_dir))
        with tracer.span("replay.extract.extract_udf") as sp_e:
            noop(self.pages.select(extract_udf(F.col("url"), F.col("html")).alias("e")))
        n = len(self.rows)
        return {
            "extract.pages": n,
            "extract.busy_s": sp_e.dur,
            "extract.pages_per_core_s": n / (sp_e.dur * self.cores),
            "extract.mb_in": self.html_bytes / 1e6,
            "extract.mismatches": result["mismatches"],
            "warc.records": self.records_written,
            "warc.parse_s": sp_w.dur,
            "warc.mb_read": self.warc_bytes / 1e6,
        }


# ====================================================================
class CrawlFanout(Workload):
    name = "crawl_fanout"
    why = ("many concurrent client-mode parity jobs in memory: the "
           "per-superstep fixed cost of the crawl loop dominates.")

    def generate(self) -> None:
        c = self.cfg
        self.site = bench_inputs.crawl_site(self.seed, c["n_pages"], c["n_domains"])
        self.store = self.site.as_store()
        self.oracle = {r["url"]: r["text"] for r in self.site.rows}
        domains = [host(s) for s in self.site.seeds]
        nd = len(domains)
        self.jobs = [
            CrawlJob(f"j{k:03d}",
                     f"https://{domains[k % nd]}/p/{(k // nd) * 5}.html",
                     max_urls=c["max_urls"])
            for k in range(c["n_jobs"])
        ]
        self.ref_jobs = random.Random(self.seed).sample(self.jobs, c["ref_jobs"])

    def load(self) -> None:
        self._unpersist_loaded()
        self.pages = self._persist(
            fixtures.pages_rows_to_spark(self.spark, self.site.rows))

    def warm(self) -> None:
        jobs = [CrawlJob(j.job_id, j.seed_url, max_urls=min(3, j.max_urls))
                for j in self.jobs[:4]]
        res = CrawlEngine(self.spark, self.pages, mode="client").run(jobs)
        res.crawled.toPandas()
        res.unpersist(blocking=True)

    def run(self, run_id: str, tracer) -> dict:
        t0 = time.perf_counter()
        engine = CrawlEngine(self.spark, self.pages, mode="client")
        res, steps = self._traced_crawl(engine, self.jobs, tracer, run_id)
        with tracer.span("collect.crawled", run_id):
            pdf = res.crawled.select(
                "job_id", "url", "fetch_ord", "success", "text", "superstep"
            ).toPandas()
        wall = time.perf_counter() - t0
        out = {"wall_s": wall, "pages": int(pdf["success"].sum()),
               "rows": pdf.to_dict("records"), "supersteps": res.supersteps,
               "steps": steps, "_res": res}
        if tracer.enabled:
            m = res.metrics.agg(F.sum("links_found").alias("l")).first()
            out["links_found"] = int(m.l or 0)
            out["seen_urls"] = res.seen.count()
        return out

    def check(self, result) -> List[str]:
        rows = result["rows"]
        errs = self._crawl_invariants(rows, self.cfg["max_urls"], self.oracle)
        for job in self.ref_jobs:
            mine = sorted((r for r in rows if r["job_id"] == job.job_id),
                          key=lambda r: r["fetch_ord"])
            sim = reference_sim.client_crawl(self.store, job.seed_url, job.max_urls)
            if [r["url"] for r in mine] != [rec.url for rec in sim["records"]]:
                errs.append(f"{job.job_id}: crawl order differs from client_crawl")
            if {r["url"] for r in mine} != sim["seen"]:
                errs.append(f"{job.job_id}: seen set differs from client_crawl")
        result["mismatches"] = sum(
            1 for r in rows if r["success"] and r["text"] != self.oracle.get(r["url"]))
        return errs

    def _crawl_layers(self, result, tracer) -> dict:
        (run,) = tracer.named("crawl.CrawlEngine.run")
        fetched = len(result["rows"])
        out = crawl_step_metrics(result["steps"])
        out.update({
            "crawl.supersteps": result["supersteps"],
            "crawl.tasks": tracer.totals(run)["tasks"],
            "crawl.fetched": fetched,
            "crawl.fetch_ok_ratio": result["pages"] / fetched if fetched else 0.0,
            "crawl.links_found": result["links_found"],
            "crawl.seen_urls": result["seen_urls"],
            "extract.mismatches": result["mismatches"],
        })
        return out

    def _extract_replay(self, pages, urls, tracer) -> dict:
        """extract_udf standalone over the pages the crawl parsed."""
        sel = pages.join(
            F.broadcast(self.spark.createDataFrame([(u,) for u in urls], "url string")),
            "url", "left_semi",
        ).select("url", "html")
        sel = sel.persist()
        n = sel.count()
        mb = sel.agg(F.sum(F.length("html")).alias("b")).first().b or 0
        with tracer.span("replay.extract.extract_udf") as sp:
            noop(sel.select(extract_udf(F.col("url"), F.col("html")).alias("e")))
        sel.unpersist(blocking=True)
        return {
            "extract.pages": n,
            "extract.busy_s": sp.dur,
            "extract.pages_per_core_s": n / (sp.dur * self.cores) if n else 0.0,
            "extract.mb_in": mb / 1e6,
        }

    def layers(self, result, tracer) -> dict:
        out = self._crawl_layers(result, tracer)
        urls = sorted({r["url"] for r in result["rows"] if r["success"]})
        out.update(self._extract_replay(self.pages, urls, tracer))
        return out


# ====================================================================
class RecrawlDurable(CrawlFanout):
    name = "recrawl_durable"
    why = ("epoch-2 production re-crawl of a changed store: catalog "
           "commits, bloom, politeness quotas, revalidation and an index "
           "refresh do the work; most parses are skipped.")

    def generate(self) -> None:
        c = self.cfg
        self.st = bench_inputs.recrawl_stores(self.seed, c["n_pages"], c["n_domains"])
        self.oracle = self.st.oracle_v2()
        # polite_drain's per-host quota at superstep_secs=1.0
        self.quota = math.floor(1.0 / c["crawl_delay"])
        domains = [host(s) for s in self.st.seeds]
        nd = len(domains)
        self.jobs = [
            CrawlJob(f"j{k:03d}",
                     f"https://{domains[k % nd]}/p/{(k // nd) * 5}.html",
                     max_urls=c["max_urls"])
            for k in range(c["n_jobs"])
        ]
        self.hosts = sorted({host(r["url"]) for r in self.st.v2})
        self.html_v1 = {r["url"]: r["html"] for r in self.st.v1}
        self.html_v2 = {r["url"]: r["html"] for r in self.st.v2}
        self.first_digest = None
        self.rebuild = None

    def load(self) -> None:
        self._unpersist_loaded()
        sp = self.spark
        self.pages_v1 = self._persist(fixtures.pages_rows_to_spark(sp, self.st.v1))
        self.pages_v2 = self._persist(fixtures.pages_rows_to_spark(sp, self.st.v2))
        self.robots = self._persist(sp.createDataFrame(
            [(h, [], self.cfg["crawl_delay"]) for h in self.hosts],
            "host string, disallow array<string>, crawl_delay double"))

    def _engine(self, pages, catalog_dir, **kw):
        return CrawlEngine(self.spark, pages, mode="client",
                           checkpoint_dir=catalog_dir, use_bloom=True,
                           robots=self.robots, **kw)

    def warm(self) -> None:
        """Epoch 1: the reference client crawl of the old store (the
        engine's client-mode parity oracle: same pages, same extracted
        fields), its revalidation snapshot and the base index
        (doc = url). Nothing here runs the engine's crawl loop: each
        timed run is the first production crawl of its process, as a
        scheduled re-crawl job would be."""
        store = {r["url"]: reference_sim.StoredPage(html=r["html"].decode())
                 for r in self.st.v1}
        rows = {}
        for job in self.jobs:
            sim = reference_sim.client_crawl(store, job.seed_url, job.max_urls)
            for rec in sim["records"]:
                if rec.success:
                    rows[rec.url] = (rec.url, True, rec.title, rec.description,
                                     rec.keywords, rec.text, rec.markdown,
                                     rec.content)
        crawled1 = self.spark.createDataFrame(
            sorted(rows.values()),
            "url string, success boolean, title string, description string,"
            " keywords array<string>, text string, markdown string,"
            " content string")
        self.snap = self._persist(recrawl.crawl_snapshots(crawled1, self.pages_v1))
        docs1 = crawled1.select(F.col("url").alias("doc_id"), "text")
        self.base = self._persist(indexing.postings_relational(docs1))
        self.base_docs = self._persist(docs1.select(F.col("doc_id").alias("doc")))
        self.snap_urls = set(rows)

    def run(self, run_id: str, tracer) -> dict:
        cat = os.path.join(self.work, run_id, "catalog")
        t0 = time.perf_counter()
        engine = self._engine(self.pages_v2, cat, revalidate_with=self.snap)
        res, steps = self._traced_crawl(engine, self.jobs, tracer, run_id)
        with tracer.span("collect.crawled", run_id):
            pdf = res.crawled.select(
                "job_id", "url", "fetch_ord", "success", "text", "superstep"
            ).toPandas()
            reval = res.revalidated.select("job_id", "url").toPandas()
        docs2 = res.crawled.filter("success").select(
            F.col("url").alias("doc_id"), "text").dropDuplicates(["doc_id"])
        fresh = docs2.join(
            res.revalidated.select(F.col("url").alias("doc_id")).distinct(),
            "doc_id", "left_anti")
        delta = indexing.postings_relational(fresh)
        tomb = self.base_docs.join(
            docs2.select(F.col("doc_id").alias("doc")), "doc", "left_anti")
        with tracer.span("indexing.merge_index_deltas", run_id):
            merged = indexing.merge_index_deltas(self.base, delta, tomb).toPandas()
        wall = time.perf_counter() - t0
        out = {"wall_s": wall, "pages": int(pdf["success"].sum()),
               "rows": pdf.to_dict("records"), "supersteps": res.supersteps,
               "steps": steps, "reval": reval,
               "merged": merged, "catalog": cat, "_res": res}
        if tracer.enabled:
            m = res.metrics.agg(F.sum("links_found").alias("l")).first()
            out["links_found"] = int(m.l or 0)
            out["seen_urls"] = res.seen.count()
            # this run's traffic for the replay spans: the catalog-backed
            # tables stay readable from disk after release; the re-extracted
            # docs are kept driver-side
            reused = set(reval["url"])
            out["_replay"] = {
                "seen": res.seen.select("job_id", "url", "depth", "ord"),
                "crawled": res.crawled,
                "fresh": sorted({(r["url"], r["text"]) for r in out["rows"]
                                 if r["success"] and r["url"] not in reused}),
            }
        return out

    def check(self, result) -> List[str]:
        rows = result["rows"]
        errs = self._crawl_invariants(rows, self.cfg["max_urls"], self.oracle)
        per = {}
        for r in rows:
            k = (r["superstep"], host(r["url"]))
            per[k] = per.get(k, 0) + 1
        over = [k for k, n in per.items() if n > self.quota]
        if over:
            errs.append(f"per-host quota {self.quota} exceeded at {over[:3]}")
        latest = SnapshotCatalog(result["catalog"]).latest_superstep()
        if latest != result["supersteps"] - 1:
            errs.append(f"catalog latest superstep {latest} != {result['supersteps'] - 1}")
        digest = hashlib.sha256(
            "\n".join(sorted(f"{r['job_id']}\t{r['url']}" for r in rows)).encode()
        ).hexdigest()
        if self.first_digest is None:
            self.first_digest = digest
        elif digest != self.first_digest:
            errs.append("(job, url) set differs from the first run")
        reused = {(r.job_id, r.url) for r in result["reval"].itertuples()}
        # 304 semantics: reused iff the url was in the epoch-1 snapshot
        # and its body is unchanged
        want = {
            (r["job_id"], r["url"]) for r in rows
            if r["success"] and r["url"] in self.snap_urls
            and self.html_v1.get(r["url"]) == self.html_v2.get(r["url"])
        }
        if reused != want:
            errs.append(f"reused urls != unchanged urls ({len(reused)} vs {len(want)})")
        merged = sorted(map(tuple, result["merged"][["term", "doc", "tf"]].values.tolist()))
        if self.rebuild is None:
            docs = sorted({(r["url"], r["text"]) for r in rows if r["success"]})
            full = indexing.postings_relational(
                self.spark.createDataFrame(docs, "doc_id string, text string"))
            self.rebuild = sorted(map(tuple, full.toPandas()[["term", "doc", "tf"]].values.tolist()))
        if merged != self.rebuild:
            errs.append("merged index != full rebuild over the epoch-2 crawl")
        result["mismatches"] = sum(
            1 for r in rows if r["success"] and r["text"] != self.oracle.get(r["url"]))
        return errs

    def layers(self, result, tracer) -> dict:
        out = self._crawl_layers(result, tracer)
        last = result
        rp = last["_replay"]
        sp = self.spark
        fresh = sp.createDataFrame(rp["fresh"], "doc_id string, text string")
        out.update(self._extract_replay(
            self.pages_v2, [u for u, _ in rp["fresh"]], tracer))

        # catalog: what the last traced run left on disk, plus one
        # standalone commit of that run's middle superstep
        cat = SnapshotCatalog(last["catalog"])
        steps = sorted(int(d.split("=")[1]) for d in os.listdir(last["catalog"])
                       if d.startswith("superstep="))
        commits = sum(1 for k in steps if os.path.exists(
            os.path.join(last["catalog"], f"superstep={k}", "_MANIFEST.json")))
        n_files, n_bytes = dir_footprint(last["catalog"])
        text_bytes = sum(len((r["text"] or "").encode()) for r in last["rows"]
                         if r["success"])
        mid = steps[len(steps) // 2]
        tables = {name: cat.read(sp, mid, name) for name in cat.manifest(mid)["tables"]}
        with tracer.span("replay.catalog.SnapshotCatalog.commit") as sp_c:
            SnapshotCatalog(os.path.join(self.work, "replay_catalog")).commit(mid, tables)
        out.update({
            "catalog.commits": commits,
            "catalog.bytes_written": n_bytes,
            "catalog.files_written": n_files,
            "catalog.write_amp": n_bytes / text_bytes if text_bytes else 0.0,
            "catalog.commit_s": sp_c.dur,
        })

        # bloom: filters over this run's seen set, probed with the
        # out-links of the pages it crawled (the candidate stream)
        dom = urlfns.reg_domain(urlfns.host(F.col("url")))
        seen = rp["seen"]
        with tracer.span("replay.bloom.build_blooms") as sp_b:
            blooms = bloom.build_blooms(
                seen.select(dom.alias("reg_domain"), "url"), n_bits=1 << 20
            ).persist()
            blooms.count()
        crawled_urls = rp["crawled"].filter("success").select("url").distinct()
        cands = (self.snap.join(crawled_urls, "url", "left_semi")
                 .select(F.explode("links").alias("l"))
                 .select(F.col("l.url").alias("url"))
                 .withColumn("reg_domain", dom))
        with tracer.span("replay.bloom.probe_blooms") as sp_p:
            probed = bloom.probe_blooms(cands, blooms, n_bits=1 << 20).persist()
            probed.count()
        in_seen = seen.select("url").distinct().withColumn("_seen", F.lit(True))
        c = probed.join(in_seen, "url", "left").agg(
            F.count("*").alias("tot"),
            F.sum((~F.col("maybe_seen")).cast("int")).alias("neg"),
            F.sum((F.col("maybe_seen") & F.col("_seen").isNull()).cast("int")).alias("fp"),
        ).first()
        tot, neg, fp = c.tot, c.neg or 0, c.fp or 0
        probed.unpersist(blocking=True)
        blooms.unpersist(blocking=True)
        out.update({
            "bloom.build_s": sp_b.dur,
            "bloom.probe_s": sp_p.dur,
            "bloom.negative_share": neg / tot if tot else 0.0,
            "bloom.false_positive_share": fp / (tot - neg) if tot - neg else 0.0,
        })

        # politeness: one drain of a frontier the size of the seen set
        with tracer.span("replay.politeness.polite_drain") as sp_d:
            batch, left = politeness.polite_drain(seen, self.robots, superstep_secs=1.0)
            nb, nl = batch.count(), left.count()
        out.update({
            "politeness.drain_s": sp_d.dur,
            "politeness.deferred_share": nl / (nb + nl) if nb + nl else 0.0,
        })

        # recrawl: validator check + snapshot build over this run
        with tracer.span("replay.recrawl.revalidate") as sp_r:
            noop(recrawl.revalidate(self.snap.select("url", "digest"), self.pages_v2))
        with tracer.span("replay.recrawl.crawl_snapshots") as sp_s:
            noop(recrawl.crawl_snapshots(rp["crawled"], self.pages_v2))
        out.update({
            "recrawl.revalidate_s": sp_r.dur,
            "recrawl.reused_share": len(last["reval"]) / last["pages"] if last["pages"] else 0.0,
            "recrawl.snapshot_s": sp_s.dur,
        })

        # redirects: chain resolution for every url this run discovered,
        # against the store's moved-page edges (the timed crawl serves
        # moved pages as stubs; see README "Scope")
        edges = sp.createDataFrame(sorted(self.st.moved.items()),
                                   "src string, dst string")
        # moved pages are one hop; max_hops=2 keeps the replay's nested
        # broadcast plan small
        with tracer.span("replay.redirects.resolve_redirects") as sp_x:
            redir = redirects.resolve_redirects(
                seen.select("url").distinct(), edges, max_hops=2).toPandas()
        out.update({
            "redirects.followed": int(((redir.n_hops > 0) & redir.redirect_ok).sum()),
            "redirects.failed": int((~redir.redirect_ok).sum()),
            "redirects.resolve_s": sp_x.dur,
        })

        # indexing: the delta build and the merge, standalone
        with tracer.span("replay.indexing.postings_relational") as sp_i:
            delta = indexing.postings_relational(fresh).persist()
            delta.count()
        tomb = self.base_docs.join(
            rp["crawled"].filter("success").select(F.col("url").alias("doc")),
            "doc", "left_anti")
        with tracer.span("replay.indexing.merge_index_deltas") as sp_m:
            noop(indexing.merge_index_deltas(self.base, delta, tomb))
        delta.unpersist(blocking=True)
        out.update({
            "indexing.delta_docs": len(rp["fresh"]),
            "indexing.postings_rows": len(last["merged"]),
            "indexing.delta_s": sp_i.dur,
            "indexing.merge_s": sp_m.dur,
        })
        return out


# BENCHMARK.json measures extract_bulk and recrawl_durable; crawl_fanout
# stays runnable by name (README "Scope" says why it is not measured)
WORKLOADS = {w.name: w for w in (ExtractBulk, CrawlFanout, RecrawlDurable)}
