"""The crawl frontier engine — superstep dataflow (SURVEY §2.8, §7).

Re-expresses the reference's two sequential crawl loops as a driver-side
superstep loop over DataFrames:

- client mode = `Crawl4AIClient.extract_website_content`
  (`crawl4ai_client.py:219-309`): FIFO queue, exact-host filter,
  success-counted ``max_urls`` budget, link discovery from the pruned
  main content.
- seeder mode = `URLSeeder.seed_urls` (`url_seeder.py:34-97`):
  batched BFS (batch 5), depth cap, discovered-set budget, 5-gate URL
  validity filter over the full document.

Each superstep is one Catalyst-planned job::

    drain(frontier) ⋈ pages → extract_udf → posexplode(links)
      → Column filters (F1-F14)
      → [seen filter probe: negative ⇒ new, positive ⇒ left_anti seen]
      → min-key first-enqueue-wins dedup → ord assignment
      → append (crawled', seen', frontier', metrics')

The seen filter (Bloom or cuckoo, ``seen_filter``) is one contract —
``bloom.prefiltered_anti_join`` — bound once as (build, anti-join,
fold); without one every candidate takes the exact ``left_anti``.

Ordering parity: every enqueued URL carries ``ord`` — its global FIFO
enqueue rank per job, assigned as ``next_ord + row_number() over
(partitionBy job_id orderBy parent_ord, link_pos)``. Because the
reference's sequential loop is BFS in discovery order, sorting fetched
rows by ``ord`` reproduces its pop order exactly (first-enqueue-wins
dedup = ``min(struct(parent_ord, pos))``; the budget cutoff is a
running per-job window over successes, matching `while ... and
len(scraped_urls) < max_urls`).

Scale notes (100 TB / 10^10-frontier design):
- Everything is keyed by ``job_id`` — one engine run drives millions of
  independent crawl jobs; all windows are per-job, so parallelism is
  across jobs and pages, never a global sort.
- The frontier⋈pages join is ``hit_miss_join``: the (small) drained
  frontier batch is broadcast against the huge pages table, which
  streams and never shuffles; on a cluster the pages table is bucketed
  by url hash so the probe is partition-pruned. The redirect-closure
  and revalidation-snapshot attaches are the same join, applied once
  to the drained batch before the fetch.
- Per-superstep state is checkpointed through ``SnapshotCatalog``
  (atomic manifest commit) and re-read, truncating lineage — killed
  jobs resume exactly (T5). The crawled delta carries the per-row
  redirect / reuse / noindex flags, so the ``redirects``,
  ``revalidated`` and ``noindexed`` tables are filters of the
  committed rows and resume with them.
- Hot-host skew: drain quotas per registrable domain (politeness, T2)
  plus AQE skew-join; candidates are deduped map-side by
  (job, url) before the anti-join shuffle.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field
from functools import partial, reduce
from typing import Callable, NamedTuple, Optional
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from website_to_agent_spark import schema
from website_to_agent_spark.functions import urlfns
from website_to_agent_spark.functions.extract import (
    banner,
    extract_udf,
    format_content,
    seeder_links_meta_udf,
)
from website_to_agent_spark.operators import bloom, cuckoo, filters, traps
from website_to_agent_spark.operators.politeness import (
    polite_drain,
    robots_filter,
)
from website_to_agent_spark.operators.redirects import (
    redirect_edges,
    resolve_redirects,
)
from website_to_agent_spark.session import local_frame
from website_to_agent_spark.sources.catalog import SnapshotCatalog
from website_to_agent_spark.sources.httpfetch import http_fetch


@dataclass
class CrawlJob:
    job_id: str
    seed_url: str
    max_urls: int = 5          # client: success budget; seeder: discovered budget
    max_depth: Optional[int] = None   # seeder only (client has no depth cap)

    @property
    def base_domain(self) -> str:
        return urlparse(self.seed_url).netloc


def _release_checkpoint(df: Optional[DataFrame], blocking: bool = False) -> None:
    """Free the storage blocks behind a ``localCheckpoint``-ed DataFrame.

    ``DataFrame.unpersist()`` only touches ``persist()``-cached plans;
    a local checkpoint's blocks belong to the underlying RDD (the
    ``LogicalRDD`` leaf of the checkpointed plan), so they must be
    unpersisted through it. Long crawls otherwise accumulate every
    superstep's bundle/frontier/state/bloom blocks in executor storage
    — unbounded creep at 10^10-frontier scale (round-2 verdict's one
    scale-killer). Best-effort: this walks internal API, so failures
    degrade to the old keep-everything behavior, never to wrong data.
    """
    if df is None:
        return
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(blocking)
    except Exception:
        pass


# The superstep bundle's payload: the CRAWLED text columns, the page's
# out-links (the link DB a re-crawl replays) and its robots meta
# directives. A revalidation snapshot stores the same fields plus the
# digest validator, each renamed ``_snap_<field>`` on the batch.
_TEXT_FIELDS = ("title", "description", "keywords", "text", "markdown",
                "content")
_META_FIELDS = ("robots_noindex", "robots_nofollow", "nofollow_links")
_PAYLOAD_FIELDS = _TEXT_FIELDS + ("links",) + _META_FIELDS
_PAYLOAD_TYPES = {
    f.name: f.dataType
    for f in schema.EXTRACTED.fields + schema.CRAWLED.fields
}
_SNAP_FIELDS = ("digest",) + _PAYLOAD_FIELDS
# store-fetch flags: True on a hit, False on a miss
_FETCH_FLAGS = ("success", "html_ok")
_FRONTIER_COLS = ("job_id", "url", "depth", "ord")
# the per-row flags a crawled delta carries past the CRAWLED columns,
# each only while its feature is on: the redirect chain (redirects
# followed), reused (revalidate_with), robots_noindex
# (honor_meta_robots). The redirects / revalidated / noindexed result
# tables are filters of them.
_FLAG_TYPES = {"final_url": T.StringType(), "n_hops": T.IntegerType(),
               "redirect_ok": T.BooleanType(), "reused": T.BooleanType(),
               "robots_noindex": T.BooleanType()}
_TRAP_DROPS_DDL = ("job_id string, host string, template string,"
                   " dropped long, superstep int")


class _SeenFilter(NamedTuple):
    """A URL-seen prefilter: ``build`` a per-domain filter table from
    (reg_domain, url) rows, ``anti_join`` candidates against the exact
    seen set behind it (bloom.prefiltered_anti_join — negatives skip
    the exact check), ``fold`` a (reg_domain, url) delta into it."""
    build: Callable
    anti_join: Callable
    fold: Callable


_SEEN_FILTERS = {
    "bloom": _SeenFilter(bloom.build_blooms, bloom.bloom_anti_join,
                         bloom.add_to_blooms),
    "cuckoo": _SeenFilter(cuckoo.build_cuckoos, cuckoo.cuckoo_anti_join,
                          cuckoo.add_to_cuckoos),
}


def _reg_domain():
    """The seen filters' partition key (and the domain-quota drain's):
    the registrable domain of ``url``."""
    return urlfns.reg_domain(urlfns.host(F.col("url")))


def _miss_columns(big: DataFrame, big_key: str, flags=()) -> list:
    """What a :func:`hit_miss_join` miss carries instead of ``big``'s
    columns: a typed null for each (the key excepted, it is dropped),
    and False for each flag."""
    return [
        F.lit(None).cast(f.dataType).alias(f.name)
        for f in big.schema.fields
        if f.name != big_key
    ] + [F.lit(False).alias(c) for c in flags]


def hit_miss_join(
    small: DataFrame,
    big: DataFrame,
    small_key: str,
    big_key: str,
    keys: Optional[DataFrame] = None,
    flags=(),
) -> DataFrame:
    """Left-attach the columns of the store-scale ``big`` to the
    batch-bounded ``small`` (rows keyed by ``(job_id, url)``) where
    ``small[small_key] == big[big_key]``.

    A LEFT join preserving the small side cannot broadcast its
    preserved side — Spark would fall back to a sort-merge join and
    SHUFFLE ALL OF ``big`` every superstep. Instead: a broadcast-INNER
    join for the hits (``big`` streamed, never shuffled), then a
    broadcast anti-join of ``small`` against the hit keys for the
    misses, whose ``big`` columns are typed nulls from ``big``'s
    schema. ``keys`` is a (``big_key``)-only frame for the hit-key
    probe (default ``big.select(big_key)``); pass a slim materialized
    copy when ``big`` cannot column-prune. The key column is dropped
    from the result; each ``flags`` column is True on hits and False
    on misses.
    """
    keys = big.select(big_key) if keys is None else keys
    hits = (
        F.broadcast(small)
        .join(big, small[small_key] == big[big_key], "inner")
        .drop(big_key)
        .select("*", *[F.lit(True).alias(c) for c in flags])
    )
    hit_keys = (
        F.broadcast(small)
        .join(keys, small[small_key] == keys[big_key], "inner")
        .select(F.col("job_id").alias("_hk_job"),
                F.col("url").alias("_hk_url"))
    )
    misses = small.join(
        F.broadcast(hit_keys),
        (small.job_id == F.col("_hk_job")) & (small.url == F.col("_hk_url")),
        "left_anti",
    ).select("*", *_miss_columns(big, big_key, flags))
    return hits.unionByName(misses)


def _ranked(rows: DataFrame, partition, order,
            rank_col: str = "_rk") -> DataFrame:
    """``rows`` plus ``rank_col``: the row number within ``partition``
    in ``order``."""
    w = Window.partitionBy(*partition).orderBy(*order)
    return rows.withColumn(rank_col, F.row_number().over(w))


def _ranked_split(ranked: DataFrame, n: int):
    """A drain's ``(batch, leftover)``: the first ``n`` rows of each
    :func:`_ranked` partition, and the frontier columns of the rest."""
    return (
        ranked.filter(F.col("_rk") <= n).drop("_rk"),
        ranked.filter(F.col("_rk") > n).select(*_FRONTIER_COLS),
    )


def _union_all(spark: SparkSession, schema_, parts: list) -> DataFrame:
    """``parts`` stacked by column name onto an empty ``schema_`` frame
    (so a run that produced no parts still returns a typed table)."""
    return reduce(DataFrame.unionByName, parts,
                  local_frame(spark, [], schema_))


@dataclass
class CrawlResultTables:
    crawled: DataFrame
    seen: DataFrame
    metrics: DataFrame
    supersteps: int = 0
    job_state: Optional[DataFrame] = None
    # (job_id, host, template, dropped, superstep) when the engine ran
    # with trap_max_urls — every candidate the trap guard dropped,
    # template-granular (no-silent-caps). None when the guard was off.
    # Guard state is in memory: after a catalog resume it covers only
    # the resumed run's supersteps.
    trap_drops: Optional[DataFrame] = None
    # redirects, revalidated and noindexed are filters of the crawled
    # rows (their flag columns ride the crawled delta), so a catalog
    # resume restores them with the crawled table.
    # (job_id, url, final_url, n_hops, redirect_ok, superstep) for
    # every fetched url whose redirect chain was followed (n_hops > 0)
    # or failed to resolve (redirect_ok=false: loop / over max hops).
    # None when the store has no redirect_to column.
    redirects: Optional[DataFrame] = None
    # (job_id, url, superstep) for every fetch answered from the
    # revalidation snapshot (digest unchanged — 304 semantics). None
    # unless the engine ran with revalidate_with.
    revalidated: Optional[DataFrame] = None
    # (job_id, url, superstep) for pages whose <meta name="robots">
    # said noindex/none — content crawled (for completeness) but
    # flagged for the index/corpus layer to drop. None unless the
    # engine ran with honor_meta_robots=True.
    noindexed: Optional[DataFrame] = None
    # (job_id, url, cash, hist) — the final OPIC cash/history state
    # (url '' is the per-job dangling sink). Feed to opic_importance
    # for the normalized estimate. None unless the engine ran with
    # opic=True. In memory like the trap guard: after a catalog resume
    # it covers only the resumed run.
    opic: Optional[DataFrame] = None
    # every localCheckpoint the run still holds at return time; on a
    # catalog-backed run the result tables re-read from disk so this is
    # just the final bloom/state, on an in-memory run it backs
    # crawled/seen/metrics themselves.
    checkpoints: list = field(default_factory=list)

    def unpersist(self, blocking: bool = False) -> None:
        """Free every superstep checkpoint retained by this run.

        Call once the result tables have been consumed (collected /
        written out). On a run without a checkpoint catalog the result
        DataFrames are BACKED by these blocks — they must not be used
        afterwards. Catalog-backed runs stay readable (disk snapshots).
        """
        for df in self.checkpoints:
            _release_checkpoint(df, blocking)
        self.checkpoints = []


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        pages: Optional[DataFrame],
        mode: str = "client",
        checkpoint_dir: Optional[str] = None,
        batch_per_job: Optional[int] = None,
        domain_quota: Optional[int] = None,
        max_supersteps: int = 200,
        use_bloom: bool = False,
        bloom_bits: int = 1 << 20,
        seen_filter: Optional[str] = None,
        cuckoo_buckets: int = 1 << 12,
        robots: Optional[DataFrame] = None,
        superstep_secs: float = 1.0,
        fetch_timeout_s: float = 30.0,
        output_format: str = "markdown",
        bucket_frontier: int = 0,
        drain_salt_buckets: int = 0,
        priority: Optional[DataFrame] = None,
        priority_on: str = "url",
        opic: bool = False,
        trap_max_urls: Optional[int] = None,
        revalidate_with: Optional[DataFrame] = None,
        honor_meta_robots: bool = False,
    ):
        assert mode in ("client", "seeder")
        # P13 output-format dispatch (`crawl4ai_client.py:25-31,352-386`)
        assert output_format in ("markdown", "html", "text", "json", "structured")
        self.output_format = output_format
        self.spark = spark
        # pages=None → LIVE mode: fetch over HTTP via the mapInPandas
        # kernel (sources/httpfetch.py) instead of the page-store join.
        self.pages = pages
        self.fetch_timeout_s = fetch_timeout_s
        self.mode = mode
        self.catalog = SnapshotCatalog(checkpoint_dir) if checkpoint_dir else None
        # seeder parity batches 5 per job (`url_seeder.py:63`); client
        # parity drains the whole BFS level (sequential loop ≡ BFS).
        if batch_per_job is None and mode == "seeder":
            batch_per_job = 5
        self.batch_per_job = batch_per_job
        self.domain_quota = domain_quota
        self.max_supersteps = max_supersteps
        # URL-seen prefilter (north_star "partitioned Bloom/cuckoo
        # URL-seen filter"): seen_filter ∈ {None, "bloom", "cuckoo"};
        # use_bloom=True is back-compat for seen_filter="bloom". Both
        # share the contract: negative ⇒ enqueue directly (skip the
        # anti-join shuffle), positive ⇒ exact check — and both are
        # maintained O(Δ) per superstep (OR-merge / cogrouped fold).
        # The cuckoo additionally supports fingerprint deletion
        # (re-crawl TTL expiry — operators/cuckoo.py). The engine binds
        # the chosen filter's (build, anti-join, fold) once, sized here
        # (cuckoo slots: the module default of 4), and never branches
        # on which filter it is.
        assert seen_filter in (None, "bloom", "cuckoo")
        seen_filter = seen_filter or ("bloom" if use_bloom else None)
        size = {"bloom": {"n_bits": bloom_bits},
                "cuckoo": {"n_buckets": cuckoo_buckets}}
        self._seen_filter = (
            _SeenFilter(*(partial(f, **size[seen_filter])
                          for f in _SEEN_FILTERS[seen_filter]))
            if seen_filter else None
        )
        # robots(host, disallow array<string>, crawl_delay double):
        # disallowed paths never enter the frontier; crawl_delay drives
        # per-host drain quotas (T2) via polite_drain.
        self.robots = robots
        self.superstep_secs = superstep_secs
        # >0: checkpointed frontier snapshots are written hash-bucketed
        # by job_id into this many buckets (SURVEY §7.6), so next
        # superstep's drain/ord windows (partitionBy job_id) read
        # pre-bucketed data without a full shuffle. Requires a catalog.
        self.bucket_frontier = bucket_frontier
        # >1: two-phase skew-bounded politeness drain (hot hosts rank
        # within (host, salt) shards first — identical output, bounded
        # per-task scan; politeness.polite_drain docstring).
        self.drain_salt_buckets = drain_salt_buckets
        # PRIORITY-QUEUE drain (north-star "priority queue realized as
        # score-bucketed frontier partitions drained in ranked
        # batches"): a scores table — (url, score) or, the scale form,
        # (host, score) with priority_on="host" (host-level PageRank
        # from operators/linkgraph.py — the Common-Crawl-ranking key,
        # same key politeness buckets by; tiny and broadcast) —
        # reorders BOTH the per-superstep drain selection and the
        # within-step pop/budget order to score-desc (ties and
        # unscored rows fall back to FIFO ord, so equal scores ≡ the
        # default crawl). Applies to the batch_per_job drain; the
        # reference-parity paths never pass it. The global fetch_ord
        # in the result stays enqueue-keyed (ord): per-batch pop order
        # is (superstep, score) by construction.
        assert priority_on in ("url", "host")
        self.priority = priority
        self.priority_on = priority_on
        # OPIC — Adaptive On-line Page Importance Computation
        # (Abiteboul, Preda & Cobena, WWW'03 — public paper,
        # independent implementation): the frontier priority LEARNS
        # during the crawl instead of coming from a prior rank job.
        # Every url carries cash (init: 1.0 on each seed) and history;
        # fetching a page moves its cash to history and distributes it
        # equally over its candidate out-links (the enqueue candidates
        # AFTER hygiene filters, BEFORE seen-dedup — cash landing on
        # already-seen urls still accumulates toward their importance,
        # the paper's re-citation signal). Pages with no candidates
        # (failed fetches, dangling pages) sink their cash into a
        # per-job '' row — accounted, never silent (full OPIC cycles
        # it through a virtual page; a budget-bounded crawl sinks it).
        # The greedy crawl-highest-cash drain IS the paper's adaptive
        # strategy; `opic_importance` turns the final state into the
        # normalized importance estimate (history + cash).
        # Scale shape: the cash table is (job, url)-keyed like the
        # frontier; the drain score is a co-keyed hash join (never a
        # broadcast — the state is frontier-sized) and the per-step
        # fold is one union + one map-combinable groupBy over
        # state + Δ, checkpoint-and-release like every other engine
        # state. Cash/history round to 12 dp at each fold so drain
        # tie-breaks are deterministic across partitionings (the
        # pagerank loop's rounding discipline). In-memory state like
        # the trap guard: a catalog resume restarts cash from the
        # resumed frontier (documented re-learn).
        assert not (opic and priority is not None), (
            "opic=True supplies its own adaptive drain scores; pass "
            "either opic or priority, not both"
        )
        self.opic = opic
        # CRAWLER-TRAP GUARD (operators/traps.py): cumulative cap on
        # frontier enqueues per (job, host, url-template). Once a
        # template has enqueued `trap_max_urls` urls, later candidates
        # matching it are dropped BEFORE the dedup shuffle via a
        # broadcast anti-join against the (tiny) capped-template set —
        # the candidate stream itself never shuffles for the guard.
        # Counts update O(Δ) per superstep from the actually-enqueued
        # rows, so the cap lags one superstep: a fresh trap can
        # overshoot by at most one step's link yield before it
        # engages (documented, deterministic). Drops are never silent:
        # CrawlResultTables.trap_drops records (job, host, template,
        # dropped, superstep). Guard state is in-memory; a catalog
        # resume re-learns counts from the resume point.
        self.trap_max_urls = trap_max_urls
        # HTTP REDIRECTS (operators/redirects.py): engaged only when
        # the page store carries a `redirect_to` column — stores
        # without one crawl bit-identically to before. Fetching a
        # redirect row returns the FINAL page's content (the
        # reference's HTTP client follows chains transparently,
        # `crawl4ai_client.py:75`), links resolve against the FINAL
        # url, chains past `resolve_redirects`' hop cap (5) fail the
        # fetch (TooManyRedirects — loops hit the same cap), and final
        # urls enter the seen set so a 301 alias and its target can't
        # both be fetched by later enqueues.
        # CrawlResultTables.redirects records every followed/failed
        # chain (never silent). The chain columns every bundle row
        # and crawled delta row carries when redirects are followed:
        self._redir_cols = (
            ["final_url", "n_hops", "redirect_ok"]
            if pages is not None and "redirect_to" in pages.columns
            else []
        )
        # CONDITIONAL REVALIDATION (If-None-Match → 304, see
        # operators/recrawl.revalidate): a snapshot table from a prior
        # crawl of the same store — (url, digest, title, description,
        # keywords, text, markdown, content), built by
        # recrawl.crawl_snapshots, attached to each drained batch
        # before the fetch. A url whose
        # current html digest equals the snapshot digest REUSES the
        # stored extraction AND stored out-links verbatim (the Arrow
        # parse kernel — the dominant re-crawl cost — never runs for
        # it; byte-identical html ⟹ identical links, replayed from
        # the snapshot's link-DB column). Reused urls still consume
        # fetch budget (the request happened; only the body/processing
        # is saved — exactly HTTP 304 semantics). The crawled delta
        # carries a `reused` flag; CrawlResultTables.revalidated is its
        # filter. Client mode only (the seeder
        # never extracts). The stored `content` is reused as-is, so
        # the snapshot must come from a run with the same
        # output_format.
        self.revalidate_with = revalidate_with
        # ROBOTS META DIRECTIVES (REP): when True (both modes — the
        # client reads them from the extraction struct, the seeder
        # from a one-parse links+directives kernel so the parity
        # kernel stays byte-identical), a page whose
        # <meta name="robots"> carries
        # nofollow/none contributes NO candidates, anchors with
        # rel="nofollow" are excluded from discovery (url-level — a
        # url both followed and nofollowed on one page is excluded,
        # the conservative reading), and noindex/none pages are
        # recorded in CrawlResultTables.noindexed so the corpus/index
        # layer can drop their content. All three signals come out of
        # the SAME Arrow parse the extraction already runs (additive
        # EXTRACTED fields) — zero extra passes. Default False: the
        # reference client ignores robots meta, so parity runs stay
        # bit-identical.
        self.honor_meta_robots = honor_meta_robots

    # ---------------------------------------------------------------- init
    def _init_state(self, jobs: list[CrawlJob]):
        """The step-0 frontier and seen set: each job's seed url."""
        seeds = [(j.job_id, j.seed_url, 0, 0) for j in jobs]
        frontier = local_frame(
            self.spark, seeds, "job_id string, url string, depth int, ord long"
        )
        seen = local_frame(
            self.spark, seeds, "job_id string, url string, ord long, depth int"
        )
        return frontier, seen

    def _fresh_job_state(self, jobs: list[CrawlJob]) -> dict:
        """The driver-side job-state dict at step 0: job_id →
        [budget_used, next_ord, max_urls, max_depth, base_domain], the
        ``schema.JOB_STATE`` columns after job_id. The seeder counts
        the seed itself against the discovered budget
        (`url_seeder.py:51`); the client budget counts successes
        only."""
        init_budget = 1 if self.mode == "seeder" else 0
        return {
            j.job_id: [init_budget, 1, j.max_urls,
                       j.max_depth if j.max_depth is not None else -1,
                       j.base_domain]
            for j in jobs
        }

    def _job_state_df(self, js: dict) -> DataFrame:
        """Materialize the driver-side job-state dict (one short row
        per job — bounded by the job count, the same bound the old
        per-step job_state checkpoint carried) as a DataFrame for the
        frontier/batch joins. A local frame of a job-count-bounded
        list costs no Spark job and is broadcast into the joins."""
        return local_frame(
            self.spark,
            [(k, int(v[0]), int(v[1]), int(v[2]), int(v[3]), v[4])
             for k, v in js.items()],
            schema.JOB_STATE,
        )

    @staticmethod
    def _snapshot_columns(rw: DataFrame) -> DataFrame:
        """A revalidation snapshot (``recrawl.crawl_snapshots``) keyed
        ``_su``, its validator and payload renamed ``_snap_<field>`` out
        of the way of the batch/page columns. Snapshots without the
        meta-robots columns read as carrying no directives."""
        return rw.select(
            F.col("url").alias("_su"),
            *[
                (
                    F.lit(None).cast(_PAYLOAD_TYPES[f])
                    if f in _META_FIELDS and f not in rw.columns
                    else F.col(f)
                ).alias("_snap_" + f)
                for f in _SNAP_FIELDS
            ],
        )

    # ---------------------------------------------------------------- run
    def run(self, jobs: list[CrawlJob], resume: bool = False) -> CrawlResultTables:
        spark = self.spark
        start_step = 0
        crawled_parts: list[DataFrame] = []
        metrics_parts: list[DataFrame] = []
        # r6: job_state lives DRIVER-SIDE (dict keyed by job_id →
        # [budget_used, next_ord, max_urls, max_depth, base_domain]) —
        # it is one short row per job, updated from per-step aggregate
        # stats the loop collects anyway. This replaces two Spark jobs
        # per superstep (the frontier⋈state isEmpty probe and the
        # job_state localCheckpoint) with one bounded collect; the
        # joins that need state columns broadcast a local-frame
        # snapshot (broadcast-sized by construction). At 10^6-job
        # scale the stats collect stays bounded by the ACTIVE job count
        # per superstep — the same bound the old checkpointed table had.
        js: dict = {}
        # per-job frontier row counts when the driver knows them
        # exactly (fresh start: the seeds; steps without drain
        # leftover: the enqueue counts); None = probe before draining
        frontier_counts = None
        frontier, seen = self._init_state(jobs)

        def absorb(read) -> None:
            """Append one step's (or one compaction's) crawled/metrics/
            seen deltas, each got by ``read(name)``."""
            nonlocal seen
            crawled_parts.append(read("crawled_delta"))
            metrics_parts.append(read("metrics_delta"))
            seen = seen.unionByName(read("seen_delta"))

        latest = (
            self.catalog.latest_superstep()
            if resume and self.catalog is not None
            else None
        )
        if latest is not None:
            frontier = self.catalog.read(spark, latest, "frontier")
            js = {
                r.job_id: [r[f.name] for f in schema.JOB_STATE.fields[1:]]
                for r in self.catalog.read(spark, latest, "job_state").collect()
            }
            # crawled/metrics/seen are append-only deltas — one per
            # step; seen step-0 base = the seed rows (rebuilt from the
            # jobs list, identical to the original init). A compaction
            # snapshot (catalog.compact) replaces the covered prefix
            # with ONE base read, so resume cost is O(tail), not
            # O(total supersteps).
            base = self.catalog.latest_compaction()
            first_k = 0
            if base is not None and base <= latest:
                absorb(partial(self.catalog.read_compacted, spark, base))
                first_k = base + 1
            for k in range(first_k, latest + 1):
                absorb(partial(self.catalog.read, spark, k))
            start_step = latest + 1
        if not js:
            js = self._fresh_job_state(jobs)
            if start_step == 0:
                frontier_counts = {j.job_id: 1 for j in jobs}

        pages = (
            self.pages.select("url", "html").withColumnRenamed("url", "p_url")
            if self.pages is not None
            else None
        )
        # r6: slim url-only copy of the page store for KEY-side probes
        # (the hit-key broadcast build of the fetch's hit_miss_join).
        # The store is routinely a checkpointed/ExistingRDD frame, and
        # those scans cannot column-prune — deriving hit keys from the
        # fat table deserialized every html payload once more per
        # superstep (measured ~0.3-0.4 s/step at sf0.1; at cluster
        # scale it is a second full store read per superstep). Built
        # once per crawl, released with the result tables.
        pages_urls = (
            pages.select("p_url").localCheckpoint(eager=True)
            if pages is not None
            else None
        )
        # redirect closure: every redirect source's chain, resolved
        # once per run() (so a catalog resume rebuilds it) and attached
        # to each drained batch by one join — see _attach_redirects.
        redirect_closure: Optional[DataFrame] = None
        if self._redir_cols:
            redirect_closure = self._redirect_closure(self.pages)
        # revalidation snapshot (client mode only — the seeder extracts
        # nothing, so there is nothing to reuse)
        snap: Optional[DataFrame] = None
        if (
            self.revalidate_with is not None
            and self.pages is not None
            and self.mode == "client"
        ):
            snap = self._snapshot_columns(self.revalidate_with)
        # the crawled delta: the CRAWLED columns plus this run's flags
        flag_cols = list(self._redir_cols)
        if snap is not None:
            flag_cols.append("reused")
        if self.honor_meta_robots:
            flag_cols.append("robots_noindex")
        delta_cols = [f.name for f in schema.CRAWLED.fields] + flag_cols
        trap_parts: list[DataFrame] = []
        # the mode's superstep: its bundle builder, its link predicate
        # over (url, base_domain), and the per-job stat that spends
        # budget (client: successes; seeder: enqueues)
        if self.mode == "client":
            step_bundle, link_ok, budget_key = (
                self._client_step, filters.client_link_ok, "n_parsed",
            )
        else:
            step_bundle, link_ok, budget_key = (
                self._seeder_step,
                lambda u, d: filters.seeder_link_ok(u, F.lower(d)),
                "n_enq",
            )

        step = start_step
        filter_table: Optional[DataFrame] = None
        # OPIC cash/history (see __init__): every frontier row starts
        # with cash 1.0 (on a catalog resume: the resumed frontier —
        # documented re-learn, same contract as the trap guard)
        opic_cash: Optional[DataFrame] = None
        _prev_opic: Optional[DataFrame] = None
        if self.opic:
            opic_cash = frontier.select(
                "job_id", "url",
                F.lit(1.0).alias("cash"), F.lit(0.0).alias("hist"),
            ).localCheckpoint(eager=True)
        # trap-guard state: cumulative enqueue counts per (job, host,
        # template) (see __init__ docstring)
        trap_counts: Optional[DataFrame] = None
        # checkpoint lifecycle: `retained` = blocks the RESULT tables
        # still need (released by CrawlResultTables.unpersist());
        # `prev_*` = the previous superstep's state checkpoints, dead as
        # soon as the current step's are materialized and released then
        # — bounded executor storage over arbitrarily long crawls.
        retained: list[DataFrame] = []
        prev_frontier_ckpt: Optional[DataFrame] = None
        # deferred releases for LAZY checkpoints (the seen-filter
        # fold): a lazy localCheckpoint materializes inside the next
        # step's first consuming job instead of costing its own eager
        # job, so its parent can only be released AFTER that job ran
        pending_release: list[DataFrame] = []

        _timing = os.environ.get("SPARK_GRAFT_STEP_TIMING") == "1"

        def _jid() -> int:
            if not _timing:
                return 0
            return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()

        while step < start_step + self.max_supersteps:
            t0 = time.time()
            _j0 = _jid()
            # active jobs: budget remaining — checked driver-side (the
            # state dict is exact), so the old frontier⋈state isEmpty
            # job only survives as a bounded count probe on the steps
            # whose frontier content the driver cannot know (drain
            # leftover / catalog resume)
            active_ids = [k for k, v in js.items() if v[0] < v[2]]
            if not active_ids:
                break
            if frontier_counts is None:
                frontier_counts = {
                    r.job_id: r.cnt
                    for r in frontier.groupBy("job_id")
                    .agg(F.count("*").alias("cnt")).collect()
                }
            if not any(frontier_counts.get(k, 0) > 0 for k in active_ids):
                break
            job_state = self._job_state_df(js)
            active_state = job_state.filter(F.col("budget_used") < F.col("max_urls"))
            live = frontier.join(F.broadcast(active_state), "job_id", "inner")
            _t_empty = time.time()
            _j_empty = _jid()

            # ---- drain batch (O2/O4) ----------------------------------
            batch, leftover = self._drain(live, step, opic_cash)

            if self.mode == "seeder":
                # depth-capped rows consume their batch slots first
                # (`url_seeder.py:63-70`: the batch is sliced off the
                # queue BEFORE the depth check), then are dropped.
                batch = batch.filter(
                    (F.col("max_depth") < 0) | (F.col("depth") <= F.col("max_depth"))
                )

            # ---- fetch = join against the page store (J1), or live
            # HTTP GET when no store was given ----------------------------
            # r6: the drained batch subtree (state join + drain ranking
            # windows — polite_drain in production mode) is referenced
            # by the hits join, the hit_keys broadcast, the miss
            # anti-join and the leftover frontier — persist it lazily
            # for the step so the first consuming job computes the
            # (batch-bounded) rows once and the rest read cache.
            # Lazy per-step caches (this one and the seen-filter probe)
            # are dropped right after the frontier materializes.
            # The redirect chain and snapshot columns attach BEFORE the
            # persist, so the store fetch — the only join after it —
            # reads the cached rows.
            step_caches: list = []
            if redirect_closure is not None:
                batch = self._attach_redirects(batch, redirect_closure)
            if snap is not None:
                batch = self._attach_snapshots(batch, snap)
            if pages is not None and leftover is not None:
                batch = batch.persist()
                step_caches.append(batch)
            if redirect_closure is not None:
                fetched = self._fetch_following(batch, pages, pages_urls)
            elif pages is not None:
                fetched = self._fetch(batch, pages, pages_urls)
            else:
                fetched = self._fetch_live(batch)

            # The step bundle (extraction output) is materialized ONCE —
            # everything downstream (crawled delta, candidates, stats,
            # frontier, seen) derives from it, so the Arrow extract
            # kernel runs exactly once per page per superstep instead of
            # once per derived state table.
            bundle = step_bundle(fetched, step)
            new_crawled = bundle.select(*delta_cols)
            candidates = self._candidates(bundle, link_ok)
            per_job = bundle.groupBy("job_id").agg(
                F.count("*").alias("n_fetched"),
                F.sum(F.col("success").cast("long")).alias("n_parsed"),
                F.sum((~F.col("success")).cast("long")).alias("n_failed"),
                F.sum(F.size(F.coalesce(F.col("links"), F.array())))
                .alias("n_links"),
                F.sum(F.length(F.coalesce(F.col("text"), F.lit(""))))
                .alias("n_bytes"),
            )
            _t_bundle = time.time()
            _j_bundle = _jid()

            # redirect FINAL urls fetched this step (content already
            # held under the requested url) — excluded from this
            # step's candidates below and added to the seen delta, so
            # a 301 alias and its target are fetched once between
            # them (Heritrix/Nutch final-url dedup semantics; the
            # reference's exact-url client would refetch).
            redir_finals = None
            if redirect_closure is not None:
                redir_finals = (
                    bundle.filter(
                        F.col("success")
                        & F.col("final_url").isNotNull()
                        & (F.col("final_url") != F.col("url"))
                    )
                    .groupBy("job_id", F.col("final_url").alias("url"))
                    .agg(
                        F.min("ord").alias("ord"),
                        F.min("depth").alias("depth"),
                    )
                )

            # ---- dedup + enqueue (J2) -----------------------------------
            # candidates: job_id, url, parent_ord, pos, depth.
            # left_anti vs the enqueued-ever set = the reference's
            # scraped_set ∪ queue membership checks
            # (`crawl4ai_client.py:271-276`).
            if self.robots is not None:
                candidates = robots_filter(candidates, self.robots)

            if self.trap_max_urls is not None and trap_counts is not None:
                host_c = F.lower(urlfns.netloc(F.col("url")))
                tmpl_c = traps.url_template(F.col("url"))
                capped = trap_counts.filter(
                    F.col("n") >= self.trap_max_urls
                ).select("job_id", "_th", "_tt")
                keyed = candidates.withColumn("_th", host_c).withColumn(
                    "_tt", tmpl_c
                )
                drops = (
                    keyed.join(F.broadcast(capped),
                               ["job_id", "_th", "_tt"], "left_semi")
                    .groupBy(
                        "job_id",
                        F.col("_th").alias("host"),
                        F.col("_tt").alias("template"),
                    )
                    .agg(F.count("*").alias("dropped"))
                    .withColumn("superstep", F.lit(step).cast("int"))
                    .localCheckpoint(eager=True)
                )
                trap_parts.append(drops)
                retained.append(drops)
                candidates = keyed.join(
                    F.broadcast(capped), ["job_id", "_th", "_tt"],
                    "left_anti",
                ).drop("_th", "_tt")

            if self.opic:
                # ---- OPIC cash fold (see __init__): the drained
                # batch's cash moves to history and splits equally
                # over its candidate links (pre-dedup, so re-cited
                # seen urls still accumulate); no-candidate pages sink
                # to the per-job '' row. One union + one groupBy over
                # state + Δ, 12-dp rounding for deterministic drain
                # tie-breaks, checkpoint-and-release.
                bcash = (
                    batch.select("job_id", "url", "ord")
                    .join(opic_cash.select("job_id", "url", "cash"),
                          ["job_id", "url"], "left")
                    .select("job_id", "url", "ord",
                            F.coalesce(F.col("cash"), F.lit(0.0))
                            .alias("_c"))
                )
                outd = candidates.groupBy("job_id", "parent_ord").agg(
                    F.count("*").alias("_deg")
                )
                recv = (
                    candidates.select("job_id", "url", "parent_ord")
                    .join(outd, ["job_id", "parent_ord"])
                    .join(bcash.select(
                        "job_id", F.col("ord").alias("parent_ord"), "_c"),
                        ["job_id", "parent_ord"])
                    .select("job_id", "url",
                            (F.col("_c") / F.col("_deg")).alias("cash"),
                            F.lit(0.0).alias("hist"))
                )
                spent = bcash.select(
                    "job_id", "url",
                    (-F.col("_c")).alias("cash"), F.col("_c").alias("hist"),
                )
                dang = (
                    bcash.join(
                        outd.select("job_id",
                                    F.col("parent_ord").alias("ord")),
                        ["job_id", "ord"], "left_anti")
                    .groupBy("job_id")
                    .agg(F.sum("_c").alias("cash"))
                    .select("job_id", F.lit("").alias("url"), "cash",
                            F.lit(0.0).alias("hist"))
                )
                new_oc = (
                    opic_cash.unionByName(spent).unionByName(recv)
                    .unionByName(dang)
                    .groupBy("job_id", "url")
                    .agg(F.round(F.sum("cash"), 12).alias("cash"),
                         F.round(F.sum("hist"), 12).alias("hist"))
                    .localCheckpoint(eager=True)
                )
                # the superseded state is still referenced by this
                # step's leftover frontier rows (the drain-score join)
                # — release it only at end of step, once the frontier
                # snapshot has materialized
                _prev_opic = opic_cash
                opic_cash = new_oc

            if self._seen_filter is not None:
                # URL-seen prefilter (SURVEY §4.3): negatives bypass the
                # anti-join shuffle; positives get the exact check.
                # Maintained INCREMENTALLY: built once from the
                # accumulated seen set (just the seeds at a fresh
                # start), then folded with each step's delta — O(Δ)
                # per superstep, never a full-seen rebuild.
                if filter_table is None:
                    filter_table = self._seen_filter.build(
                        seen.select(_reg_domain().alias("reg_domain"), "url"),
                    ).localCheckpoint(eager=True)
                cand = self._seen_filter.anti_join(
                    candidates.withColumn("reg_domain", _reg_domain()),
                    seen.select("job_id", "url"),
                    filter_table,
                    join_keys=["job_id", "url"],
                    cache_out=step_caches,
                ).drop("reg_domain")
            else:
                cand = candidates.join(
                    seen.select("job_id", "url"), ["job_id", "url"], "left_anti"
                )
            if redir_finals is not None:
                # batch-bounded set → broadcast anti-join; also covers
                # the prefilter path (the finals are not in the filter yet
                # this step, so a probe negative would slip through)
                cand = cand.join(
                    F.broadcast(redir_finals.select("job_id", "url")),
                    ["job_id", "url"],
                    "left_anti",
                )
            # first-enqueue-wins: min (parent_ord, pos) per (job, url)
            cand = (
                cand.groupBy("job_id", "url")
                .agg(
                    F.min(F.struct("parent_ord", "pos")).alias("k"),
                    F.min("depth").alias("depth"),
                )
                .select(
                    "job_id",
                    "url",
                    "depth",
                    F.col("k.parent_ord").alias("parent_ord"),
                    F.col("k.pos").alias("pos"),
                )
            )
            w_ord = Window.partitionBy("job_id").orderBy("parent_ord", "pos")
            cand = cand.withColumn("rank", F.row_number().over(w_ord))

            # budget cap at enqueue time (seeder: discovered budget,
            # `url_seeder.py:82-83`); client enqueues uncapped.
            cand = cand.join(
                F.broadcast(job_state.select(
                    "job_id", "budget_used", "next_ord", "max_urls")),
                "job_id",
            )
            if self.mode == "seeder":
                cand = cand.filter(
                    F.col("budget_used") + F.col("rank") <= F.col("max_urls")
                )
            # materialized once — feeds the next frontier, the seen
            # delta, and the per-job enqueue stats (3 consumers)
            new_frontier_rows = cand.select(
                "job_id",
                "url",
                "depth",
                (F.col("next_ord") + F.col("rank") - 1).alias("ord"),
            ).localCheckpoint(eager=True)
            # the eager materialization above ran the seen-filter
            # probe, which fully computes (broadcast-exchanges) the
            # previous step's LAZY filter merge — its parent blocks
            # are now safely dead
            for df in pending_release:
                _release_checkpoint(df)
            pending_release.clear()
            # the frontier snapshot is materialized — the per-step
            # caches (the batch, consumed by the bundle subtree and, in
            # opic mode, the cash fold; the seen-filter probe) are dead
            for df in step_caches:
                df.unpersist()

            if self.trap_max_urls is not None:
                inc = (
                    new_frontier_rows.select(
                        "job_id",
                        F.lower(urlfns.netloc(F.col("url"))).alias("_th"),
                        traps.url_template(F.col("url")).alias("_tt"),
                    )
                    .groupBy("job_id", "_th", "_tt")
                    .agg(F.count("*").alias("n"))
                )
                if trap_counts is not None:
                    inc = (
                        trap_counts.unionByName(inc)
                        .groupBy("job_id", "_th", "_tt")
                        .agg(F.sum("n").alias("n"))
                    )
                new_tc = inc.localCheckpoint(eager=True)
                _release_checkpoint(trap_counts)
                trap_counts = new_tc
            _t_frontier = time.time()
            _j_frontier = _jid()

            # ---- state updates ------------------------------------------
            # ONE bounded collect per superstep: the per-job fetch
            # stats (from the materialized bundle) and enqueue counts
            # (from the materialized frontier rows) update the
            # driver-side state dict and build the metrics delta
            # without a job_state checkpoint job.
            enq_stats = (
                new_frontier_rows.groupBy("job_id")
                .agg(F.count("*").alias("n_enq"))
            )
            stat_rows = (
                per_job.join(enq_stats, "job_id", "full_outer").collect()
            )
            for r in stat_rows:
                v = js.get(r["job_id"])
                if v is None:
                    continue
                v[0] += (r[budget_key] or 0)
                v[1] += (r["n_enq"] or 0)
            job_state = self._job_state_df(js)

            seen_delta = new_frontier_rows.select("job_id", "url", "ord", "depth")
            if redir_finals is not None:
                # add FINAL urls to the seen set: after A 301→ B was
                # fetched, a later enqueue of B would re-fetch content
                # we already hold. (A B already sitting in the frontier
                # still drains — eventual dedup, same as any crawler's
                # enqueue-time check.) The anti-join keeps seen a set;
                # its left side is batch-bounded, the per-step cost the
                # candidate dedup already pays.
                redir_seen = redir_finals.join(
                    seen.select("job_id", "url"),
                    ["job_id", "url"],
                    "left_anti",
                )
                seen_delta = seen_delta.unionByName(redir_seen)
            if self._seen_filter is not None:
                # the delta includes redirect FINALS (seen_delta, not
                # just the frontier rows) so the prefilter agrees with
                # the exact set. Bloom: a single cogrouped fold — one
                # delta shuffle + one grouped kernel per superstep (r4
                # — replaces the build-then-merge pair, byte-identical
                # output).
                merged = self._seen_filter.fold(
                    filter_table,
                    seen_delta.select(_reg_domain().alias("reg_domain"),
                                      "url"),
                ).localCheckpoint(eager=False)
                # LAZY checkpoint (r4): the merge materializes inside
                # the next step's probe (a broadcast exchange computes
                # every partition) instead of costing its own eager job
                # per superstep. The superseded filter is released only
                # AFTER that job runs (pending_release), and a crawl
                # that ends before then just abandons the un-run merge
                # — nothing consumes it after the loop.
                pending_release.append(filter_table)
                filter_table = merged
            frontier = new_frontier_rows
            if leftover is not None:
                frontier = frontier.unionByName(leftover)

            # metrics delta built from the ALREADY-collected stats —
            # same values and schema as the old per_job projection,
            # zero extra jobs and no lineage back into the bundle
            _secs = time.time() - t0
            step_metrics = local_frame(
                spark,
                [
                    (step, r["job_id"], None, r["n_fetched"],
                     r["n_parsed"], r["n_failed"], r["n_links"], None,
                     r["n_bytes"], _secs)
                    for r in stat_rows
                    if r["n_fetched"] is not None
                ],
                schema.METRICS,
            )
            # next step's frontier content is exactly the enqueued
            # rows unless a drain path kept leftover rows (their
            # per-job split is unknown driver-side → probe next step)
            if leftover is None:
                frontier_counts = {
                    r["job_id"]: (r["n_enq"] or 0) for r in stat_rows
                }
            else:
                frontier_counts = None

            # ---- checkpoint + lineage truncation (T5) -------------------
            # frontier/job_state are full-state snapshots (small — the
            # active set and one row per job); crawled/metrics/SEEN are
            # append-only DELTAS (Iceberg-append analogue) — the seen
            # set is never rewritten, so superstep I/O stays O(Δ) even
            # when the accumulated seen set is 10^10 rows. The anti-join
            # probes the union of materialized deltas (at cluster scale:
            # one Iceberg table receiving appends).
            deltas = {
                "crawled_delta": new_crawled,
                "metrics_delta": step_metrics,
                "seen_delta": seen_delta,
            }
            if self.catalog is not None:
                self.catalog.commit(
                    step,
                    {"frontier": frontier, "job_state": job_state, **deltas},
                    lineage={"mode": self.mode, "step": step},
                    bucket=(
                        {"frontier": (["job_id"], self.bucket_frontier)}
                        if self.bucket_frontier > 0
                        else None
                    ),
                )
                frontier = self.catalog.read(self.spark, step, "frontier")
                absorb(partial(self.catalog.read, self.spark, step))
                # everything downstream now reads the committed disk
                # snapshots — this step's in-memory bundle and frontier
                # rows are dead; release them so executor storage stays
                # O(current step), not O(all steps)
                _release_checkpoint(bundle)
                _release_checkpoint(new_frontier_rows)
            else:
                # cache + truncate lineage locally; crawled/metrics/seen
                # deltas derive from the already-checkpointed step
                # bundle (still referenced by the result tables → goes
                # in `retained`, freed by CrawlResultTables.unpersist)
                if leftover is not None:
                    frontier = frontier.localCheckpoint(eager=True)
                    _release_checkpoint(prev_frontier_ckpt)
                    prev_frontier_ckpt = frontier
                absorb(deltas.__getitem__)
                retained.append(bundle)
                retained.append(new_frontier_rows)
            if _prev_opic is not None:
                # frontier/job_state snapshots are materialized — the
                # superseded cash state is now safely dead
                _release_checkpoint(_prev_opic)
                _prev_opic = None
            if _timing:
                _t_end = time.time()
                _j_end = _jid()
                print(
                    f"[step {step}] empty={_t_empty - t0:.2f}/{_j_empty - _j0}j "
                    f"bundle={_t_bundle - _t_empty:.2f}/{_j_bundle - _j_empty}j "
                    f"frontier={_t_frontier - _t_bundle:.2f}/{_j_frontier - _j_bundle}j "
                    f"state={_t_end - _t_frontier:.2f}/{_j_end - _j_frontier}j "
                    f"total={_t_end - t0:.2f}/{_j_end - _j0}j"
                )
            step += 1

        crawled_rows = _union_all(spark, T.StructType(
            schema.CRAWLED.fields
            + [T.StructField(c, _FLAG_TYPES[c]) for c in flag_cols]
        ), crawled_parts)
        # dense fetch order per job (the reference's pop counter)
        w_fetch = Window.partitionBy("job_id").orderBy("ord")
        crawled = crawled_rows.select(
            *[f.name for f in schema.CRAWLED.fields]
        ).withColumn("fetch_ord", F.row_number().over(w_fetch) - 1)
        # final state snapshots + bloom are still live (job_state is
        # returned; the last frontier/bloom would pin blocks forever
        # otherwise) — hand them to the result for explicit release
        # the slim url-only store copy is loop-scoped — nothing after
        # the loop consumes it; release it here so a catalog-backed run
        # returns with only the final bloom pinned (test_scale_path)
        _release_checkpoint(pages_urls)
        for handle in (prev_frontier_ckpt, filter_table,
                       trap_counts, redirect_closure, opic_cash):
            if handle is not None:
                retained.append(handle)
        # a final un-materialized lazy merge keeps its parent in
        # pending_release — hand those over too (releasing the parent
        # of a never-run lazy checkpoint is safe: nothing computes it)
        retained.extend(pending_release)

        def flagged(on: bool, cond, *cols) -> Optional[DataFrame]:
            """The (job_id, url, *cols, superstep) crawled rows where
            ``cond`` holds; None when the feature is off."""
            if not on:
                return None
            return crawled_rows.filter(cond).select(
                "job_id", "url", *cols, "superstep")

        return CrawlResultTables(
            crawled=crawled, seen=seen,
            metrics=_union_all(spark, schema.METRICS, metrics_parts),
            supersteps=step - start_step, job_state=self._job_state_df(js),
            checkpoints=retained,
            opic=opic_cash,
            trap_drops=(_union_all(spark, _TRAP_DROPS_DDL, trap_parts)
                        if self.trap_max_urls is not None else None),
            redirects=flagged(
                bool(self._redir_cols),
                (F.col("n_hops") > 0) | ~F.col("redirect_ok"),
                "final_url", "n_hops", "redirect_ok"),
            revalidated=flagged(snap is not None, F.col("reused")),
            noindexed=flagged(self.honor_meta_robots,
                              F.col("robots_noindex")),
        )

    # -------------------------------------------------------------- drain
    def _drain(self, live: DataFrame, step: int,
               opic_cash: Optional[DataFrame]):
        """Split the live frontier into this superstep's ``(batch,
        leftover)``; ``leftover`` (the frontier columns) is None when
        the whole frontier drains.

        Precedence: ``batch_per_job`` (per-job FIFO prefix, or the
        ranked priority-queue prefix when scores are given), then
        ``domain_quota`` (per-(job, registrable domain) FIFO prefix),
        then the ``robots`` politeness drain, else everything. Under a
        score (priority table or OPIC cash) the batch carries ``_pop``
        — the ranked pop order _client_step's budget window follows
        instead of ord."""
        if self.batch_per_job is None and self.domain_quota is not None:
            ranked = _ranked(live.withColumn("_dom", _reg_domain()),
                             ("job_id", "_dom"), ("ord",))
            return _ranked_split(ranked.drop("_dom"), self.domain_quota)
        if self.batch_per_job is None and self.robots is None:
            return live, None
        scored = self.priority is not None or self.opic
        if scored:
            live = self._join_scores(live, opic_cash)
        if self.batch_per_job is not None:
            order = (F.desc_nulls_last("score"), "ord") if scored else ("ord",)
            ranked = _ranked(live, ("job_id",), order)
            if scored:
                ranked = ranked.withColumn("_pop", F.col("_rk")).drop("score")
            return _ranked_split(ranked, self.batch_per_job)
        # priority composes with politeness: per-host quotas stay the
        # hard constraint; WITHIN a host's quota the highest-scored
        # urls drain first (_prio = -score so the ascending order_cols
        # contract holds; unscored → +inf → after every scored row;
        # salting stays keyed on ord — a per-host-constant score would
        # collapse a hot host into one salt bucket)
        order_cols: tuple = ("ord",)
        if scored:
            live = live.withColumn(
                "_prio", -F.coalesce(F.col("score"), F.lit(float("-inf"))),
            ).drop("score")
            order_cols = ("_prio", "ord")
        batch, leftover = polite_drain(
            live, self.robots, superstep_secs=self.superstep_secs,
            superstep=step, salt_buckets=self.drain_salt_buckets,
            order_cols=order_cols, salt_col="ord",
        )
        if scored:
            batch = _ranked(batch, ("job_id",), order_cols,
                            "_pop").drop("_prio")
        return batch, leftover.select(*_FRONTIER_COLS)

    # ------------------------------------------------------------ scores
    def _join_scores(self, live: DataFrame,
                     opic_cash: Optional[DataFrame]) -> DataFrame:
        """Attach the drain ``score`` to frontier rows (unmatched rows
        keep score null). Under OPIC it is the cash state: a co-keyed
        hash join — the cash table is frontier-sized, NEVER broadcast;
        cash is already 12-dp rounded by the fold, so score ties break
        deterministically on ord. Otherwise it is the broadcast
        priority table, url- or host-keyed."""
        if self.opic:
            return live.join(
                opic_cash.select(
                    "job_id", "url", F.col("cash").alias("score")
                ),
                ["job_id", "url"], "left",
            )
        if self.priority_on == "url":
            return live.join(F.broadcast(self.priority), "url", "left")
        return (
            live.withColumn("_ph", urlfns.host(F.col("url")))
            .join(
                F.broadcast(self.priority.withColumnRenamed("host", "_ph")),
                "_ph", "left",
            )
            .drop("_ph")
        )

    # -------------------------------------------------------------- fetch
    @staticmethod
    def _fetch(batch: DataFrame, pages: DataFrame,
               pages_urls: Optional[DataFrame] = None,
               key: str = "url") -> DataFrame:
        """Fetch = look up html for the drained batch in the page store
        (``p_url``, ``html``) with :func:`hit_miss_join`; misses are
        fetch failures (`crawl4ai_client.py:142`). ``key`` names the
        batch column holding the url to fetch.

        ``pages_urls`` (r6): slim (p_url) copy of the store for the
        hit-key probe (default ``pages.select("p_url")``). Checkpointed
        stores are ExistingRDD scans with no column pruning, so a probe
        of the fat store deserializes every html payload again; a batch
        url is in the slim copy iff it is in the store, so the key set
        is identical.
        """
        return hit_miss_join(batch, pages, key, "p_url", keys=pages_urls,
                             flags=_FETCH_FLAGS)

    @staticmethod
    def _redirect_closure(store: DataFrame) -> DataFrame:
        """(``_ru``, ``final_url``, ``n_hops``, ``redirect_ok``) for
        every redirect source of ``store`` — its chain walked once
        (:func:`resolve_redirects` over the edge table) and
        materialized: a small fraction of the store, fixed for the
        crawl. The edge table it walked is released."""
        edges = redirect_edges(store).localCheckpoint(eager=True)
        closure = resolve_redirects(
            edges.select(F.col("src").alias("url")), edges
        ).withColumnRenamed("url", "_ru").localCheckpoint(eager=True)
        _release_checkpoint(edges)
        return closure

    @staticmethod
    def _attach_redirects(batch: DataFrame, closure: DataFrame) -> DataFrame:
        """Add ``final_url``/``n_hops``/``redirect_ok`` to the drained
        batch: a :func:`hit_miss_join` against the redirect closure; a
        url that is no redirect source (a miss) is its own final url,
        0 hops, ok. Downstream steps use the columns for the fetch, the
        extraction base url, the seen-set delta and the redirects
        result table."""
        return hit_miss_join(batch, closure, "url", "_ru").select(
            *batch.columns,
            F.coalesce("final_url", "url").alias("final_url"),
            F.coalesce("n_hops", F.lit(0)).alias("n_hops"),
            F.coalesce("redirect_ok", F.lit(True)).alias("redirect_ok"),
        )

    @staticmethod
    def _fetch_following(batch: DataFrame, pages: DataFrame,
                         pages_urls: Optional[DataFrame] = None) -> DataFrame:
        """Redirect-aware store fetch of an :meth:`_attach_redirects`
        batch: ``_fetch`` the FINAL url. Unresolved chains (loop / too
        many hops) are forced failures, like requests'
        TooManyRedirects."""
        too_many = batch.filter(~F.col("redirect_ok")).select(
            "*", *_miss_columns(pages, "p_url", _FETCH_FLAGS)
        )
        return CrawlEngine._fetch(
            batch.filter(F.col("redirect_ok")), pages, pages_urls,
            key="final_url",
        ).unionByName(too_many)

    @staticmethod
    def _attach_snapshots(batch: DataFrame, snap: DataFrame) -> DataFrame:
        """Left-attach the prior-crawl snapshot columns
        (``_snapshot_columns``) to the drained batch with
        :func:`hit_miss_join` — the snapshot table is corpus-scale. The
        fetch then carries them to the bundle's digest check."""
        return hit_miss_join(batch, snap, "url", "_su")

    def _fetch_live(self, batch: DataFrame) -> DataFrame:
        """Live-mode fetch: the drained batch goes through the
        ``http_fetch`` mapInPandas kernel; results join back to the
        batch (tiny broadcast) so frontier metadata is preserved.

        Success semantics per mode: client counts any 2xx
        (`crawl4ai_client.py:75` raise_for_status only). The seeder
        treats a non-HTML 2xx as VISITED but not failed — it just skips
        link discovery (`url_seeder.py:126-129`: only non-200 / timeout
        / exception URLs enter ``failed_urls``). That skip state is the
        ``html_ok`` flag: ``success`` stays fetch-success so failure
        stats match the reference; ``html_ok`` gates discovery only.
        The content-type check is F9's case-insensitive one
        (`filters.content_type_ok` — headers arrive in arbitrary case).
        """
        got = http_fetch(
            batch.select("url").distinct(), timeout_s=self.fetch_timeout_s
        )
        ok = F.coalesce(F.col("_ok"), F.lit(False))
        return (
            batch.join(
                F.broadcast(
                    got.select(
                        "url", "html", "status_code", "content_type",
                        F.col("success").alias("_ok"),
                    )
                ),
                "url",
                "left",
            )
            .withColumn("success", ok)
            .withColumn(
                "html_ok", ok & filters.content_type_ok(F.col("content_type"))
            )
            .drop("_ok")
        )

    # ------------------------------------------------------------- bundle
    def _bundle(self, rows: DataFrame, step: int, payload: dict,
                discover, reused: bool) -> DataFrame:
        """The superstep bundle rows of ``rows``: the CRAWLED columns,
        the out-links, the ``discover`` gate, the redirect chain
        columns (when followed) and the ``reused`` flag, plus
        ``robots_noindex``/``nofollow_links`` under honor_meta_robots.

        ``payload`` maps ``_PAYLOAD_FIELDS`` names to columns (``ext.*``,
        ``_snap_*``, a seeder kernel's output); an absent field is a
        typed null. Page-level nofollow turns discovery off."""
        def val(name):
            c = payload.get(name)
            return F.lit(None).cast(_PAYLOAD_TYPES[name]) if c is None else c

        meta = []
        if self.honor_meta_robots:
            discover = discover & ~F.coalesce(val("robots_nofollow"),
                                              F.lit(False))
            meta = [
                F.coalesce(val("robots_noindex"), F.lit(False))
                .alias("robots_noindex"),
                F.coalesce(val("nofollow_links"),
                           F.array().cast("array<string>"))
                .alias("nofollow_links"),
            ]
        return rows.select(
            "job_id", "url", "ord", "depth",
            F.lit(None).cast("long").alias("fetch_ord"),
            "success",
            *[val(c).alias(c) for c in _TEXT_FIELDS],
            F.lit(step).alias("superstep"),
            val("links").alias("links"),
            discover.alias("discover"),
            "base_domain",
            *self._redir_cols,
            F.lit(reused).alias("reused"),
            *meta,
        )

    def _base_url(self):
        """The url links resolve against: after a followed redirect,
        the FINAL url (the base every client uses)."""
        if self._redir_cols:
            return F.coalesce(F.col("final_url"), F.col("url"))
        return F.col("url")

    def _candidates(self, bundle: DataFrame, link_ok) -> DataFrame:
        """Enqueue candidates ``(job_id, url, parent_ord, pos, depth)``:
        the out-links of every discovering bundle row that pass
        ``link_ok(url, base_domain)`` — and, under honor_meta_robots,
        are not rel=nofollow anchors of their page (per-row array
        membership — no join, the list rides the bundle)."""
        nf_cols = ["nofollow_links"] if self.honor_meta_robots else []
        candidates = (
            bundle.filter(F.col("discover"))
            .select(
                "job_id",
                F.col("ord").alias("parent_ord"),
                (F.col("depth") + 1).alias("depth"),
                "base_domain",
                *nf_cols,
                F.posexplode_outer("links").alias("_i", "link"),
            )
            .select(
                "job_id",
                F.col("link.url").alias("url"),
                "parent_ord",
                F.col("link.pos").alias("pos"),
                "depth",
                "base_domain",
                *nf_cols,
            )
            .filter(F.col("url").isNotNull())
            .filter(link_ok(F.col("url"), F.col("base_domain")))
            .drop("base_domain")
        )
        if self.honor_meta_robots:
            candidates = candidates.filter(
                ~F.coalesce(
                    F.array_contains(F.col("nofollow_links"), F.col("url")),
                    F.lit(False),
                )
            ).drop("nofollow_links")
        return candidates

    # ------------------------------------------------------------- client
    def _client_step(self, fetched: DataFrame, step: int) -> DataFrame:
        """One client-mode superstep bundle over the fetched batch.

        Budget gate (`crawl4ai_client.py:219,241`): a row is *popped*
        (recorded) iff successes before it (per job, FIFO order) leave
        budget; its links are discovered iff budget remains AFTER
        counting it. Under a priority drain the batch carries ``_pop``
        (the score-ranked pop order) and the gate follows it — budget
        then goes to the highest-scored rows, not the oldest."""
        pop_col = "_pop" if "_pop" in fetched.columns else "ord"
        w = (
            Window.partitionBy("job_id")
            .orderBy(pop_col)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        gated = (
            fetched.withColumn(
                "succ_before",
                F.coalesce(F.sum(F.col("success").cast("long")).over(w), F.lit(0)),
            )
            .withColumn(
                "popped",
                F.col("budget_used") + F.col("succ_before") < F.col("max_urls"),
            )
            .withColumn(
                "discover",
                F.col("success")
                & (
                    F.col("budget_used")
                    + F.col("succ_before")
                    + F.lit(1)
                    < F.col("max_urls")
                ),
            )
            .filter(F.col("popped"))
        )

        # 304-style reuse: digest-unchanged rows never enter the Arrow
        # extraction kernel; the digest check itself is one column md5
        # inside codegen (see revalidate_with in __init__).
        has_snap = "_snap_digest" in fetched.columns
        if has_snap:
            # coalesce: md5(NULL html) is NULL, and a NULL predicate
            # would drop the row from ALL THREE of the ok/failed/
            # reused splits below — a successful fetch of a null-html
            # store row must re-extract, not vanish
            reuse_pred = F.coalesce(
                F.col("success")
                & F.col("_snap_digest").isNotNull()
                & (F.md5(F.col("html")) == F.col("_snap_digest")),
                F.lit(False),
            )
            gated = gated.withColumn("_reuse", reuse_pred)
        else:
            gated = gated.withColumn("_reuse", F.lit(False))
        # r6 (guide §2.4/§7.2 — duplicated subtrees): the ok/failed/
        # reused branches below each re-plan this entire subtree (drain
        # ranking + fetch joins + budget window); AQE runs every
        # distinct exchange as its own query-stage job, so one parity
        # superstep paid ~14 stage-jobs in the bundle materialization
        # alone. Materialize the gated batch ONCE (batch-bounded rows;
        # the html column is exactly the drained batch's pages) — each
        # branch then reads the cached partitions and the only work
        # left downstream is the extraction kernel + projections.
        # Released right after the bundle checkpoint materializes.
        gated = gated.drop("succ_before", "popped").localCheckpoint(eager=True)
        # Extraction only for successful, non-reused fetches (filter
        # before the UDF so Catalyst prunes its input).
        ok = gated.filter(F.col("success") & ~F.col("_reuse")).withColumn(
            "ext", extract_udf(self._base_url(), F.col("html"))
        )
        content = format_content(
            self.output_format,
            F.col("ext.markdown"), F.col("ext.text"), F.col("ext.cleaned_html"),
            title=F.col("ext.title"), description=F.col("ext.description"),
            keywords=F.col("ext.keywords"),
        )
        ext = {f: F.col("ext." + f) for f in _PAYLOAD_FIELDS if f != "content"}
        parts = [
            self._bundle(ok, step, {**ext, "content": content},
                         F.col("discover"), reused=False),
            self._bundle(gated.filter(~F.col("success")), step, {},
                         F.lit(False), reused=False),
        ]
        if has_snap:
            # reused rows take the stored extraction AND the stored
            # out-links verbatim (the snapshot is the link DB):
            # byte-identical html ⟹ identical links, so traversal
            # continues without the parse
            parts.append(self._bundle(
                gated.filter(F.col("_reuse")), step,
                {f: F.col("_snap_" + f) for f in _PAYLOAD_FIELDS},
                F.col("discover"), reused=True,
            ))
        # materialize the bundle: extraction runs once per superstep
        bundle = reduce(DataFrame.unionByName, parts).localCheckpoint(eager=True)
        # the bundle is materialized — the gated-batch checkpoint (its
        # only consumer) is dead; release it so superstep storage stays
        # O(current bundle)
        _release_checkpoint(gated)
        return bundle

    # ------------------------------------------------------------- seeder
    def _seeder_step(self, fetched: DataFrame, step: int) -> DataFrame:
        """One seeder-mode superstep bundle: link extraction over the
        FULL document (`url_seeder.py:132,143-174`); no text extraction
        (the seeder discovers, it doesn't extract).

        Non-HTML 2xx responses (``success`` but not ``html_ok``) are
        visited-but-skipped (`url_seeder.py:126-129`): they never enter
        the link UDF, contribute no candidates, and are NOT counted as
        failed."""
        # r6: same duplicated-subtree fix as _client_step — the
        # ok/failed branches below each re-plan the drain + fetch-join
        # subtree; materialize the fetched batch once (batch-bounded)
        # and release it after the bundle checkpoint.
        fetched = fetched.localCheckpoint(eager=True)
        html_ok = F.col("success") & F.col("html_ok")
        # one-parse links+directives kernel; the directives are read
        # only under honor_meta_robots
        ok = fetched.filter(html_ok).withColumn(
            "_sm", seeder_links_meta_udf(F.col("html"), self._base_url())
        )
        payload = {"links": F.col("_sm.links")}
        if self.honor_meta_robots:
            # a page-level nofollow page yields no links (still visited
            # — it consumes its batch slot like the reference's
            # non-HTML skip)
            payload = {f: F.col("_sm." + f) for f in _META_FIELDS}
            payload["links"] = F.when(
                F.coalesce(F.col("_sm.robots_nofollow"), F.lit(False)),
                F.array().cast(_PAYLOAD_TYPES["links"]),
            ).otherwise(F.col("_sm.links"))
        # failed ∪ skipped-non-HTML: both get null links; `success` is
        # kept as-is so the skipped rows stay out of n_failed.
        bundle = (
            self._bundle(ok, step, payload, F.lit(True), reused=False)
            .unionByName(self._bundle(fetched.filter(~html_ok), step, {},
                                      F.lit(False), reused=False))
            .localCheckpoint(eager=True)
        )
        _release_checkpoint(fetched)
        return bundle


def combined_llmstxt(crawled: DataFrame) -> DataFrame:
    """A9 content concat in crawl order (`crawl4ai_client.py:237,312`):
    per job, the banner-wrapped contents of successful fetches joined by
    ``\\n`` in FIFO order — as one aggregation, no driver loop."""
    b = banner(F.col("url"), F.col("content"))
    return (
        crawled.filter(F.col("success"))
        .select("job_id", "ord", b.alias("bc"))
        .groupBy("job_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("ord", "bc"))),
                    lambda s: s["bc"],
                ),
                "\n",
            ).alias("content"),
            F.count("*").alias("pages_scraped"),
        )
    )


def opic_importance(opic: DataFrame,
                    include_sink: bool = False) -> DataFrame:
    """(job_id, url, importance) from a run's final OPIC state: the
    paper's estimate (history + cash) normalized per job (Abiteboul et
    al. WWW'03 use (H+C)/(G+1); a budget-bounded crawl normalizes over
    what it saw). The '' dangling sink is excluded unless
    ``include_sink`` — its share is the cash that left the graph
    through failed/linkless pages (accounted, never silent). One agg +
    one broadcast-sized join (one row per job)."""
    rows = opic if include_sink else opic.filter(F.col("url") != "")
    tot = rows.groupBy("job_id").agg(
        F.sum(F.col("cash") + F.col("hist")).alias("_t")
    )
    return rows.join(tot, "job_id").select(
        "job_id", "url",
        ((F.col("cash") + F.col("hist")) / F.col("_t")).alias("importance"),
    )
