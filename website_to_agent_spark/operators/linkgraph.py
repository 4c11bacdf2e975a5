"""Link-graph analytics over crawl output — the crawl-prioritization
layer (BASELINE.json north_star: "a priority queue realized as
depth/score-bucketed frontier partitions drained in ranked batches";
the scores come from here).

The reference keeps no link graph — it discards links once followed
(`crawl4ai_client.py:271-276` membership checks only). At web scale
the graph IS the scheduler: host-level PageRank (the classic crawl
ordering signal, Cho/Garcia-Molina "Efficient Crawling Through URL
Ordering", WWW'98; Common Crawl publishes exactly this host graph),
in-degree as a cheap authority proxy, and per-target anchor text as a
relevance feature. All operators are pure column dataflow.

Scale shapes:
- ``edges_from_crawled``: one explode — no shuffle beyond the source
  scan.
- ``degrees``: two map-side-combined aggs + one outer join on the node
  key, all hash-partitioned by node; no global sort.
- ``host_graph``: one agg keyed by (src_host, dst_host) — the 10^10
  page edge list collapses to a |hosts|² -bounded (in practice tiny)
  weighted graph BEFORE any iteration touches it.
- ``pagerank``: each Lloyd-style iteration is one shuffle keyed by dst
  (contributions) plus a 1-row broadcast (dangling mass) — never a
  driver-side collect of ranks. Every iteration ``localCheckpoint``s
  the new rank table (truncating an otherwise exponentially growing
  plan) and releases the previous iteration's blocks — the same
  bounded-storage discipline as the crawl superstep loop.
- ``top_anchors``: one agg + per-target top-k via
  ``row_number <= k`` (TakeOrdered per partition key, no global sort).

Cross-engine exactness: floating-point addition is order-sensitive and
both Spark and DuckDB sum in arbitrary partition order, so raw ranks
drift by ~1e-16/iteration. ``pagerank`` therefore rounds each
iteration to ``sync_dp`` (default 12) decimals — far above float
noise, far below result precision — which re-synchronizes the engines
every step; drift never accumulates and a DuckDB recursive-CTE mirror
reproduces the ranks bit-for-bit at the contract's 6-dp compare.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, Window, functions as F

from website_to_agent_spark.functions import urlfns
from website_to_agent_spark.operators.crawl import _release_checkpoint


def prepare_edge_table(e: DataFrame, outw: DataFrame) -> DataFrame:
    """The loop-invariant edge table of an iterative rank loop:
    (src, dst, w, wout), pre-partitioned AND pre-sorted on the join
    key, materialized ONCE via ``persist()`` — deliberately NOT
    ``localCheckpoint``. A checkpoint scan is an ``ExistingRDD`` whose
    partitioning/ordering Catalyst cannot see, so the moment ``ranks``
    outgrows the broadcast threshold (any web-scale node set), every
    iteration's sort-merge join would re-exchange AND re-sort the full
    edge side; an ``InMemoryTableScan`` keeps the cached plan's
    outputPartitioning/outputOrdering, so each iteration moves only
    the node-scale ranks table (plan-asserted in
    test_linkgraph.py::test_rank_loop_edge_side_never_moves). Lineage
    is no concern here — the table is loop-invariant; only the loop
    variable accretes lineage and needs checkpointing. Caller owns the
    blocks: ``unpersist()`` after the loop."""
    out = (
        e.join(outw, "src")
        .repartition("src")
        .sortWithinPartitions("src")
        .persist()
    )
    out.count()  # materialize before the loop, outside any iteration
    return out


def page_link_edges(pages: DataFrame, urls: Optional[DataFrame] = None) -> DataFrame:
    """(src, dst, pos) — the raw link graph of a page store, via the
    seeder's Arrow link-extraction kernel (full-document anchors,
    `url_seeder.py:132,143-174` semantics). ``urls`` (a 1-column
    DataFrame) restricts extraction to a crawled subset — broadcast
    semi-join, so the huge store is filtered before the UDF runs."""
    from website_to_agent_spark.functions.extract import seeder_links_meta_udf

    p = pages.select("url", "html")
    if urls is not None:
        p = p.join(F.broadcast(urls.toDF("url")), "url", "left_semi")
    return (
        p.select(
            F.col("url").alias("src"),
            F.explode(
                seeder_links_meta_udf(F.col("html"), F.col("url")).links
            ).alias("link"),
        )
        .select(
            "src",
            F.col("link.url").alias("dst"),
            F.col("link.pos").alias("pos"),
        )
        .filter(F.col("dst").isNotNull())
    )


def edges_from_crawled(crawled: DataFrame) -> DataFrame:
    """(job_id, src, dst, pos) — one row per discovered link, in
    on-page order, from a crawl-engine step bundle (any DataFrame
    carrying the EXTRACTED ``links`` array; the persisted CRAWLED
    table drops links — use ``page_link_edges`` there)."""
    return (
        crawled.filter(F.col("links").isNotNull())
        .select(
            "job_id",
            F.col("url").alias("src"),
            F.explode("links").alias("link"),
        )
        .select(
            "job_id",
            "src",
            F.col("link.url").alias("dst"),
            F.col("link.pos").alias("pos"),
        )
        .filter(F.col("dst").isNotNull())
    )


def host_graph(edges: DataFrame,
               src_col: str = "src", dst_col: str = "dst",
               drop_null_hosts: bool = True) -> DataFrame:
    """Collapse a page-level edge list to the weighted registrable-
    domain graph: (src_host, dst_host, weight = #page links). Collapse
    FIRST, iterate after — PageRank then runs on a graph bounded by
    |hosts|², not |pages|². Non-web links (mailto:, javascript:, bare
    fragments) have no host and would otherwise become one NULL node
    soaking up rank mass — dropped by default."""
    sh = urlfns.reg_domain(urlfns.host(F.col(src_col)))
    dh = urlfns.reg_domain(urlfns.host(F.col(dst_col)))
    g = edges.select(sh.alias("src_host"), dh.alias("dst_host"))
    if drop_null_hosts:
        g = g.filter(
            F.col("src_host").isNotNull() & F.col("dst_host").isNotNull()
        )
    return g.groupBy("src_host", "dst_host").agg(F.count("*").alias("weight"))


def degrees(edges: DataFrame,
            src_col: str = "src", dst_col: str = "dst") -> DataFrame:
    """(node, out_deg, in_deg) for every node appearing on either side.
    Missing side = 0 (a page nobody links to still has its out-degree;
    a pure sink still appears with out_deg 0)."""
    outs = (
        edges.groupBy(F.col(src_col).alias("node"))
        .agg(F.count("*").alias("out_deg"))
    )
    ins = (
        edges.groupBy(F.col(dst_col).alias("node"))
        .agg(F.count("*").alias("in_deg"))
    )
    return (
        outs.join(ins, "node", "full_outer")
        .select(
            "node",
            F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
            F.coalesce("in_deg", F.lit(0)).alias("in_deg"),
        )
    )


def rank_prep(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: Optional[str] = None,
) -> tuple:
    """Materialize the loop-invariant tables a rank loop needs —
    (nodes, n_nodes, outw, prepared_edges) — so several loops over the
    SAME graph (pagerank + trustrank in the spam-mass pairing) share
    one prep instead of each paying the node-distinct, out-weight agg
    and edge repartition+sort+persist again. Pass the tuple to
    :func:`pagerank` / :func:`trustrank` via ``prep=``; the caller
    owns the blocks — call :func:`release_rank_prep` when every loop
    is done."""
    w = F.col(weight_col) if weight_col else F.lit(1).cast("long")
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst"),
        w.alias("w"),
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    outw = e.groupBy("src").agg(F.sum("w").alias("wout")) \
        .localCheckpoint(eager=True)
    ep = prepare_edge_table(e, outw)
    return nodes, n, outw, ep


def release_rank_prep(prep: tuple) -> None:
    """Free the blocks behind a :func:`rank_prep` tuple."""
    nodes, _, outw, ep = prep
    _release_checkpoint(nodes)
    ep.unpersist(blocking=True)
    _release_checkpoint(outw)


def pagerank(
    edges: DataFrame,
    iters: int = 10,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: Optional[str] = None,
    sync_dp: int = 12,
    dangling: bool = True,
    init_ranks: Optional[DataFrame] = None,
    prep: Optional[tuple] = None,
    ckpt_interval: int = 4,
) -> DataFrame:
    """Weighted PageRank, ``iters`` synchronous iterations →
    (node, rank).

    r₀ = 1/N;  rₖ₊₁(v) = (1-d)/N + d·(Σ_{u→v} rₖ(u)·w(u,v)/W_out(u)
    + D/N) where D = Σ rₖ(u) over dangling u (no out-edges) — the
    standard redistribute-dangling-mass formulation, so Σ r = 1 every
    iteration. Each iteration rounds to ``sync_dp`` decimals (see
    module docstring: cross-engine lockstep).

    Dataflow per iteration: one shuffle keyed by dst + one 1-row
    broadcast. The loop variable is checkpoint-materialized and the
    superseded iteration's blocks are released — bounded executor
    storage at any iteration count.

    ``dangling=False`` skips the dangling-mass anti-join + broadcast
    (≈2 Spark jobs per iteration) for graphs PROVEN to have out-edges
    on every node (e.g. a formulaic edge rule, or a host graph built
    only from crawled pages): D is exactly 0 there, so the ranks are
    bit-identical to the default path. On a graph that does have
    sinks it silently leaks rank mass — only set it with a structural
    guarantee.

    ``init_ranks`` warm-starts the power iteration from a prior run's
    ``(node, rank)`` table — the incremental-crawl path: a recurring
    crawl's host graph changes slowly between epochs, and PageRank's
    fixpoint is independent of the starting vector (power iteration on
    a primitive stochastic matrix), so seeding from last epoch's ranks
    buys the remaining convergence in a few iterations instead of a
    cold run. Nodes new this epoch start at 1/N; departed nodes are
    dropped; the seed is then renormalized to Σ=1 (and rounded to
    ``sync_dp``) so iteration 1 conserves mass exactly. Passing a
    uniform table is bit-identical to the default cold start.

    ``prep`` (a :func:`rank_prep` tuple) supplies prebuilt
    loop-invariant tables shared with another loop; the caller then
    owns their blocks. ``ckpt_interval`` checkpoints the loop variable
    every k iterations instead of every iteration (r6): with
    ``dangling=False`` each iteration references the previous ranks
    exactly ONCE, so the chained plan grows linearly and the per-round
    values — rounded to ``sync_dp`` inside the plan exactly as before
    — are unchanged, while the loop pays one materialization per k
    rounds instead of per round. With ``dangling=True`` the iterate is
    referenced twice per round (contrib + dangling-mass agg), so the
    loop falls back to per-iteration checkpoints.
    """
    if prep is None:
        own_prep = rank_prep(edges, src_col=src_col, dst_col=dst_col,
                             weight_col=weight_col)
    else:
        own_prep = None
    nodes, n, outw, e = own_prep if own_prep is not None else prep

    if init_ranks is not None:
        # left join onto THIS epoch's node set: departed nodes drop,
        # new nodes seed at 1/N; renormalize so Σ r = 1 exactly (the
        # loop conserves mass, so the invariant must hold at entry).
        # The 1-row total broadcasts; the join is node-scale.
        seeded = nodes.join(
            init_ranks.select(
                F.col("node"), F.col("rank").alias("_r0")),
            "node", "left",
        ).select(
            "node",
            F.coalesce(F.col("_r0"), F.lit(1.0 / n)).alias("_r0"),
        )
        tot = seeded.agg(F.sum("_r0").alias("_t"))
        ranks = seeded.crossJoin(F.broadcast(tot)).select(
            "node",
            F.round(F.col("_r0") / F.col("_t"), sync_dp).alias("r"),
        ).localCheckpoint(eager=True)
    else:
        ranks = nodes.select(
            "node", F.round(F.lit(1.0 / n), sync_dp).alias("r")
        ).localCheckpoint(eager=True)
    prev = ranks
    interval = max(1, ckpt_interval) if not dangling else 1
    for it in range(iters):
        ranks = pagerank_step(
            nodes, e, outw, ranks, n, damping, sync_dp,
            dangling=dangling,
        )
        if (it + 1) % interval == 0 or it == iters - 1:
            ranks = ranks.localCheckpoint(eager=True)
            _release_checkpoint(prev)
            prev = ranks
    out = ranks.withColumnRenamed("r", "rank")
    if own_prep is not None:
        # the pre-joined edge table is iteration-scoped too — releasing
        # it keeps repeated pagerank() calls in a long-lived scheduler
        # at bounded storage (r3 ADVICE; `out` depends only on the
        # final ranks checkpoint, which the caller owns). Shared prep
        # is released by its owner instead.
        release_rank_prep(own_prep)
    return out


def pagerank_step(nodes: DataFrame, e: DataFrame, outw: DataFrame,
                  ranks: DataFrame, n: int, damping: float,
                  sync_dp: int, dangling: bool = True) -> DataFrame:
    """One synchronous PageRank iteration, un-materialized — the loop
    body of ``pagerank`` (exposed so the plan-review tooling can
    ``.explain`` exactly what each iteration executes). ``e`` must
    already carry ``wout`` (pre-joined out-weights)."""
    contrib = (
        e.join(ranks.withColumnRenamed("node", "src"), "src")
        .groupBy("dst")
        .agg(F.sum(F.col("r") * F.col("w") / F.col("wout")).alias("c"))
    )
    base = nodes.join(
        contrib.withColumnRenamed("dst", "node"), "node", "left"
    )
    if dangling:
        dang_df = (
            ranks.join(outw.withColumnRenamed("src", "node"),
                       "node", "left_anti")
            .agg(F.coalesce(F.sum("r"), F.lit(0.0)).alias("dang"))
        )
        base = base.crossJoin(F.broadcast(dang_df))
        dang_term = F.col("dang") / F.lit(float(n))
    else:
        dang_term = F.lit(0.0)
    return base.select(
        "node",
        F.round(
            F.lit((1.0 - damping) / n)
            + F.lit(damping)
            * (F.coalesce(F.col("c"), F.lit(0.0)) + dang_term),
            sync_dp,
        ).alias("r"),
    )


def trustrank(
    edges: DataFrame,
    seeds,
    iters: int = 10,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: Optional[str] = None,
    sync_dp: int = 12,
    dangling: bool = True,
    init_ranks: Optional[DataFrame] = None,
    prep: Optional[tuple] = None,
    ckpt_interval: int = 4,
) -> DataFrame:
    """TrustRank (Gyöngyi, Garcia-Molina & Pedersen, VLDB'04 — public
    paper, independent implementation): personalized PageRank whose
    restart mass is concentrated on a hand-vetted TRUSTED seed set, so
    trust attenuates with link distance from the seeds → (node, trust).
    Spam hosts — far from any trusted seed in the link graph — score
    ≈0 even when raw PageRank is inflated by link farms. At corpus
    scale this is the standard crawl-frontier / domain-curation spam
    signal (feeds ``CrawlEngine(priority=...)`` and
    ``curation.cap_per_domain`` upstream weights).

    r₀ = t;  rₖ₊₁(v) = (1-d)·t(v) + d·(Σ_{u→v} rₖ(u)·w(u,v)/W_out(u)
    + D·t(v)) where t is uniform over the seed nodes present in the
    graph (0 elsewhere) and D the dangling mass — redistributed over
    the RESTART vector (the personalized-PageRank convention), so
    Σ r = 1 every iteration. Per-iteration rounding to ``sync_dp``
    keeps a DuckDB recursive-CTE mirror in bit-lockstep (module
    docstring).

    Dataflow per iteration = ``pagerank``'s: one dst-keyed shuffle +
    one 1-row broadcast; the seed set is broadcast once into the node
    table (seed lists are tiny by construction — human-vetted).
    Checkpoint-and-release keeps storage bounded at any ``iters``.
    ``dangling=False`` as in ``pagerank``: only with a structural
    no-sinks guarantee.

    ``init_ranks`` warm-starts the iterate from a prior epoch's
    ``(node, trust)`` table, exactly as in :func:`pagerank` (the
    personalized-PageRank fixpoint is independent of the starting
    vector; only the RESTART vector — the seed set — defines it):
    new nodes seed at 0 (trust flows from the seeds, the conservative
    default for an unseen host), departed nodes drop, and the seed is
    renormalized to Σ=1. The restart vector stays this epoch's seed
    set regardless of the init.
    """
    if not isinstance(seeds, DataFrame):
        seeds = edges.sparkSession.createDataFrame(
            [(str(s),) for s in seeds], "node string")
    seeds = seeds.toDF("node").distinct()
    # same once-not-per-iteration discipline as pagerank (r5): outw
    # checkpointed so the dangling anti-join never re-derives it from
    # the edge lineage; edges pre-partitioned + pre-sorted + persisted
    # (see prepare_edge_table) so each iteration's rank join moves
    # only the node-scale side. `prep` shares the loop-invariant
    # tables with a sibling loop over the same graph (rank_prep).
    if prep is None:
        own_prep = rank_prep(edges, src_col=src_col, dst_col=dst_col,
                             weight_col=weight_col)
    else:
        own_prep = None
    base_nodes, _n, outw, e = own_prep if own_prep is not None else prep
    n_seeds = base_nodes.join(
        F.broadcast(seeds), "node", "left_semi").count()
    if n_seeds == 0:
        if own_prep is not None:
            release_rank_prep(own_prep)
        raise ValueError("trustrank: no seed appears in the graph")
    nodes = base_nodes.join(
        F.broadcast(seeds.withColumn("is_seed", F.lit(True))),
        "node", "left",
    ).select(
        "node",
        F.when(F.col("is_seed"), F.lit(1.0 / n_seeds))
        .otherwise(F.lit(0.0)).alias("t"),
    ).localCheckpoint(eager=True)

    if init_ranks is not None:
        seeded = nodes.join(
            init_ranks.select(
                F.col("node"), F.col("trust").alias("_r0")),
            "node", "left",
        ).select(
            "node", "t",
            F.coalesce(F.col("_r0"), F.lit(0.0)).alias("_r0"),
        )
        tot = seeded.agg(F.sum("_r0").alias("_t"))
        ranks = seeded.crossJoin(F.broadcast(tot)).select(
            "node",
            F.round(
                # an all-zero prior (degenerate — e.g. trust table of
                # a disjoint graph) falls back to the cold-start
                # restart vector rather than dividing by zero
                F.when(F.col("_t") > 0, F.col("_r0") / F.col("_t"))
                .otherwise(F.col("t")),
                sync_dp,
            ).alias("r"),
        ).localCheckpoint(eager=True)
    else:
        ranks = nodes.select(
            "node", F.round(F.col("t"), sync_dp).alias("r")
        ).localCheckpoint(eager=True)
    prev = ranks
    # ckpt_interval chaining: see pagerank — identical per-round
    # algebra and rounding, fewer materializations; dangling=True
    # references the iterate twice per round, so it keeps interval 1
    interval = max(1, ckpt_interval) if not dangling else 1
    for it in range(iters):
        contrib = (
            e.join(ranks.withColumnRenamed("node", "src"), "src")
            .groupBy("dst")
            .agg(F.sum(F.col("r") * F.col("w") / F.col("wout")).alias("c"))
        )
        base = nodes.join(
            contrib.withColumnRenamed("dst", "node"), "node", "left"
        )
        if dangling:
            dang_df = (
                ranks.join(outw.withColumnRenamed("src", "node"),
                           "node", "left_anti")
                .agg(F.coalesce(F.sum("r"), F.lit(0.0)).alias("dang"))
            )
            base = base.crossJoin(F.broadcast(dang_df))
            dang_term = F.col("dang") * F.col("t")
        else:
            dang_term = F.lit(0.0)
        ranks = base.select(
            "node",
            F.round(
                F.lit(1.0 - damping) * F.col("t")
                + F.lit(damping)
                * (F.coalesce(F.col("c"), F.lit(0.0)) + dang_term),
                sync_dp,
            ).alias("r"),
        )
        if (it + 1) % interval == 0 or it == iters - 1:
            ranks = ranks.localCheckpoint(eager=True)
            _release_checkpoint(prev)
            prev = ranks
    out = ranks.withColumnRenamed("r", "trust")
    _release_checkpoint(nodes)
    if own_prep is not None:
        release_rank_prep(own_prep)
    return out


def hits(
    edges: DataFrame,
    iters: int = 10,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: Optional[str] = None,
    sync_dp: int = 12,
) -> DataFrame:
    """HITS hubs & authorities (Kleinberg, JACM'99 — public paper,
    independent implementation) → (node, hub, auth). Completes the
    link-analysis family next to ``pagerank``/``trustrank``: a good
    HUB (link directory, sitemap page) is where a crawler harvests
    many good targets per fetch; a good AUTHORITY is the target worth
    fetching — two different frontier signals PageRank merges into
    one.

    Synchronous iterations: auth ← Aᵀ·hub, hub ← A·auth, each
    L2-normalized. Per iteration: one dst-keyed and one src-keyed
    shuffle plus two 1-row norm broadcasts; checkpoint-and-release
    keeps storage bounded. Per-iteration rounding to ``sync_dp`` (see
    module docstring) makes re-runs and mirrors bit-stable.
    """
    w = F.col(weight_col) if weight_col else F.lit(1).cast("long")
    # the loop joins edges on BOTH keys, so the table is persisted in
    # TWO orientations (src-partitioned+sorted for the auth step,
    # dst- for the hub step — GraphX-style edge replication): once
    # hub/auth outgrow broadcast, each step's sort-merge join scans
    # its orientation in place and moves only the node-scale side —
    # the prepare_edge_table discipline (persist, NOT checkpoint:
    # Catalyst cannot see partitioning through an ExistingRDD scan).
    # 2x edge storage buys zero per-iteration edge movement.
    e0 = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst"),
        w.alias("w"),
    )
    e_src = e0.repartition("src").sortWithinPartitions("src").persist()
    e_src.count()
    e_dst = (e_src.repartition("dst").sortWithinPartitions("dst")
             .persist())
    e_dst.count()
    nodes = (
        e_src.select(F.col("src").alias("node"))
        .unionByName(e_src.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def _norm(df: DataFrame, col: str) -> DataFrame:
        n2 = df.agg(
            F.sqrt(F.sum(F.col(col) * F.col(col))).alias("_n")
        )
        return df.crossJoin(F.broadcast(n2)).select(
            "node",
            F.round(
                F.when(F.col("_n") > 0, F.col(col) / F.col("_n"))
                .otherwise(F.lit(0.0)),
                sync_dp,
            ).alias(col),
        )

    hub = nodes.select("node", F.lit(1.0).alias("hub"))
    hub = _norm(hub, "hub").localCheckpoint(eager=True)
    prev_hub: Optional[DataFrame] = hub
    prev_auth: Optional[DataFrame] = None
    auth = None
    for _ in range(iters):
        a_raw = (
            e_src.join(hub.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("hub") * F.col("w")).alias("auth"))
        )
        auth = _norm(
            nodes.join(a_raw, "node", "left").select(
                "node", F.coalesce("auth", F.lit(0.0)).alias("auth")),
            "auth",
        ).localCheckpoint(eager=True)
        _release_checkpoint(prev_auth)
        prev_auth = auth
        h_raw = (
            e_dst.join(auth.withColumnRenamed("node", "dst"), "dst")
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum(F.col("auth") * F.col("w")).alias("hub"))
        )
        hub = _norm(
            nodes.join(h_raw, "node", "left").select(
                "node", F.coalesce("hub", F.lit(0.0)).alias("hub")),
            "hub",
        ).localCheckpoint(eager=True)
        _release_checkpoint(prev_hub)
        prev_hub = hub
    out = hub.join(auth, "node")
    _release_checkpoint(nodes)
    e_dst.unpersist(blocking=True)
    e_src.unpersist(blocking=True)
    return out


def salsa(
    edges: DataFrame,
    iters: int = 10,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: Optional[str] = None,
    sync_dp: int = 12,
    ckpt_interval: int = 1,
) -> DataFrame:
    """SALSA hubs & authorities (Lempel & Moran, WWW'00 — public
    paper, independent implementation) → (node, hub, auth), each an
    L1-normalized stationary distribution. The random-walk cousin of
    :func:`hits`: the authority chain steps backward along an in-link
    (weight / in-degree) then forward along that hub's out-links
    (weight / out-degree), so scores are DEGREE-normalized — a single
    mega-hub cannot confer unbounded authority on everything it
    touches, which is why SALSA resists the tightly-knit-community
    (link-farm) capture HITS is famous for (Lempel & Moran §3; the
    production form of this walk ranks who-to-follow candidates on
    real social graphs). For an unweighted graph whose authority-side
    support is connected, the stationary authority is provably
    ∝ in-degree; on disconnected supports each component keeps its
    initial mass share (|A_j|/|A|) — the power iteration from the
    uniform start reproduces the paper's per-component closed form
    automatically (tested against it).

    Scale shape: the degree normalizations are two map-side-combined
    aggs computed ONCE and folded into the edge table as ``wn_out`` =
    w/d_out(src) and ``wn_in`` = w/d_in(dst); the loop then reuses the
    two persisted orientations exactly like :func:`hits` (src- and
    dst-partitioned+sorted — ``prepare_edge_table`` discipline, so no
    edge-side exchange or sort per iteration once node tables outgrow
    broadcast). Per iteration each chain is two node-scale joins + two
    map-side-combined edge aggs + one 1-row L1-norm broadcast;
    checkpoint-and-release bounds storage and lineage. Per-iteration
    rounding to ``sync_dp`` (module docstring) keeps re-runs and
    mirrors bit-stable.
    """
    w = F.col(weight_col) if weight_col else F.lit(1).cast("long")
    e0 = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst"),
        w.cast("double").alias("w"),
    )
    d_out = e0.groupBy("src").agg(F.sum("w").alias("_do"))
    d_in = e0.groupBy("dst").agg(F.sum("w").alias("_di"))
    e_n = (
        e0.join(d_out, "src").join(d_in, "dst")
        .select(
            "src", "dst",
            (F.col("w") / F.col("_do")).alias("wn_out"),
            (F.col("w") / F.col("_di")).alias("wn_in"),
        )
    )
    e_src = e_n.repartition("src").sortWithinPartitions("src").persist()
    e_src.count()
    e_dst = (e_src.repartition("dst").sortWithinPartitions("dst")
             .persist())
    e_dst.count()
    # hub side = nodes with out-links, authority side = nodes with
    # in-links; a node can be both (its two scores are independent)
    hubs = e_src.select(F.col("src").alias("node")).distinct() \
        .localCheckpoint(eager=True)
    auths = e_src.select(F.col("dst").alias("node")).distinct() \
        .localCheckpoint(eager=True)

    def _l1norm(df: DataFrame, col: str) -> DataFrame:
        n1 = df.agg(F.sum(F.col(col)).alias("_n"))
        return df.crossJoin(F.broadcast(n1)).select(
            "node",
            F.round(
                F.when(F.col("_n") > 0, F.col(col) / F.col("_n"))
                .otherwise(F.lit(0.0)),
                sync_dp,
            ).alias(col),
        )

    def _norm_join(side: DataFrame, raw: DataFrame, col: str) -> DataFrame:
        # r6: L1-normalize against the RAW aggregate's sum (identical
        # mass — side nodes missing from raw contribute exactly 0.0)
        # so each round references the chained iterate once through
        # `raw` (whose top is an exchange Spark's ReuseExchange
        # dedups), letting rounds chain lazily without plan doubling
        n1 = raw.agg(F.sum(F.col(col)).alias("_n"))
        return side.join(raw, "node", "left") \
            .crossJoin(F.broadcast(n1)).select(
                "node",
                F.round(
                    F.when(
                        F.col("_n") > 0,
                        F.coalesce(F.col(col), F.lit(0.0)) / F.col("_n"),
                    ).otherwise(F.lit(0.0)),
                    sync_dp,
                ).alias(col),
            )

    interval = max(1, ckpt_interval)

    # r6: the two stationary chains never read each other's state —
    # only the final full-outer join combines them — so they run as
    # two concurrent driver threads (guide §2.6) over the shared
    # persisted orientations; each chain keeps the per-round
    # checkpoint-and-release discipline (its iterate is referenced
    # twice per round, so lazy chaining would double the plan).
    def _auth_chain() -> DataFrame:
        auth = _l1norm(auths.select("node", F.lit(1.0).alias("auth")),
                       "auth").localCheckpoint(eager=True)
        prev = auth
        for it in range(iters):
            # backward (wn_in) to hubs, then forward (wn_out)
            t = (
                e_dst.join(auth.withColumnRenamed("node", "dst"), "dst")
                .groupBy("src")
                .agg(F.sum(F.col("auth") * F.col("wn_in")).alias("_t"))
            )
            a_raw = (
                e_src.join(t, "src")
                .groupBy(F.col("dst").alias("node"))
                .agg(F.sum(F.col("_t") * F.col("wn_out")).alias("auth"))
            )
            auth = _norm_join(auths, a_raw, "auth")
            if (it + 1) % interval == 0 or it == iters - 1:
                auth = auth.localCheckpoint(eager=True)
                _release_checkpoint(prev)
                prev = auth
        return auth

    def _hub_chain() -> DataFrame:
        hub = _l1norm(hubs.select("node", F.lit(1.0).alias("hub")),
                      "hub").localCheckpoint(eager=True)
        prev = hub
        for it in range(iters):
            # forward (wn_out) to authorities, then backward (wn_in)
            s = (
                e_src.join(hub.withColumnRenamed("node", "src"), "src")
                .groupBy("dst")
                .agg(F.sum(F.col("hub") * F.col("wn_out")).alias("_s"))
            )
            h_raw = (
                e_dst.join(s, "dst")
                .groupBy(F.col("src").alias("node"))
                .agg(F.sum(F.col("_s") * F.col("wn_in")).alias("hub"))
            )
            hub = _norm_join(hubs, h_raw, "hub")
            if (it + 1) % interval == 0 or it == iters - 1:
                hub = hub.localCheckpoint(eager=True)
                _release_checkpoint(prev)
                prev = hub
        return hub

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as _pool:
        f_auth = _pool.submit(_auth_chain)
        f_hub = _pool.submit(_hub_chain)
        auth, hub = f_auth.result(), f_hub.result()
    # hub/auth are eager checkpoints (materialized), so the side
    # tables and edge orientations can be released before the caller
    # consumes the result; their full outer join IS the node union
    out = hub.join(auth, "node", "full").select(
        "node",
        F.coalesce("hub", F.lit(0.0)).alias("hub"),
        F.coalesce("auth", F.lit(0.0)).alias("auth"),
    )
    _release_checkpoint(hubs)
    _release_checkpoint(auths)
    e_dst.unpersist(blocking=True)
    e_src.unpersist(blocking=True)
    return out


def connected_components(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    iters: Optional[int] = None,
    max_iters: int = 50,
    init_labels: Optional[DataFrame] = None,
) -> DataFrame:
    """(node, component) — undirected connected components by min-label
    propagation (component = lexicographically smallest member).
    Site/mirror clustering: duplicate-content hosts linked by near-dup
    edges collapse into one component.

    ``iters=None`` (default) runs to fixpoint — one extra isEmpty probe
    per round, bounded by ``max_iters``; a fixed ``iters`` runs exactly
    that many synchronous rounds (the cross-engine-oracle mode: both
    engines at the same round count agree bit-for-bit even before
    convergence, labels being exact strings, not floats).

    Per round: one dst-keyed min-aggregation over the symmetrized edge
    list + a node-keyed left join — the same bounded dataflow as a
    ``pagerank`` iteration, with the same checkpoint-and-release
    discipline. Label propagation needs O(graph diameter) rounds; web
    graphs are short-diameter, and the host-collapsed graph more so.

    ``init_labels`` warm-starts from a prior epoch's (node, component)
    table — valid ONLY under the ADDITIONS-ONLY contract (this epoch's
    graph ⊇ the prior graph: recurring crawls DISCOVER edges; they
    rarely un-discover them). Then components only merge, every prior
    label is still a present node of the same (grown) component, and
    propagation finishes in O(rounds to merge the deltas) instead of
    O(diameter); a converged unchanged graph fixpoints in one round.
    Unlike the rank warm starts (where a lying prior decays back), a
    stale label here PERSISTS — min-propagation can lower labels but
    never raise them — so if edges or nodes were REMOVED since the
    prior epoch (a component may have split), you MUST cold-start;
    the contract is documented, tested in both directions, and not
    silently recoverable. New nodes seed with their own id; departed
    nodes in the prior table are dropped (harmless only if they were
    not a component's label-carrier — that is exactly the
    additions-only contract again).
    """
    # loop-invariant symmetrized edge list, joined on "a" every round:
    # persisted pre-partitioned+pre-sorted (NOT checkpointed — the
    # prepare_edge_table discipline) so once labels outgrow broadcast
    # each round's sort-merge join scans the edges in place and moves
    # only the node-scale label table. The distinct already shuffles
    # on (a, b), so the extra repartition("a") is one node-bounded-key
    # exchange paid once.
    sym = (
        edges.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
        .unionByName(
            edges.select(F.col(dst_col).alias("a"), F.col(src_col).alias("b"))
        )
        .distinct()
        .repartition("a")
        .sortWithinPartitions("a")
        .persist()
    )
    sym.count()
    nodes = sym.select(F.col("a").alias("node")).distinct()
    if init_labels is not None:
        # additions-only warm start (see docstring): prior label if
        # the node existed, own id for nodes new this epoch; departed
        # prior nodes drop via the inner side of the left join.
        labels = nodes.join(
            init_labels.select(
                "node", F.col("component").alias("_l0")),
            "node", "left",
        ).select(
            "node",
            F.coalesce(F.col("_l0"), F.col("node")).alias("label"),
        ).localCheckpoint(eager=True)
    else:
        labels = nodes.select(
            "node", F.col("node").alias("label")
        ).localCheckpoint(eager=True)
    prev = labels
    rounds = iters if iters is not None else max_iters
    for _ in range(rounds):
        contrib = (
            sym.join(labels.withColumnRenamed("node", "a"), "a")
            .groupBy(F.col("b").alias("node"))
            .agg(F.min("label").alias("nlab"))
        )
        new_labels = (
            labels.join(contrib, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nlab"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        if iters is None:
            changed = new_labels.alias("n").join(
                labels.alias("o"), "node"
            ).filter(F.col("n.label") != F.col("o.label"))
            done = changed.isEmpty()
        else:
            done = False
        _release_checkpoint(prev)
        labels = new_labels
        prev = labels
        if done:
            break
    sym.unpersist(blocking=True)
    return labels.withColumnRenamed("label", "component")


def label_propagation(
    edges: DataFrame,
    seed_labels: DataFrame,
    iters: int = 10,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: Optional[str] = None,
    directed: bool = False,
    sync_dp: int = 12,
) -> DataFrame:
    """Semi-supervised label propagation over the link graph (Zhu &
    Ghahramani CMU-CALD-02-107; synchronous LPA form of Raghavan et
    al. 2007 — public papers, independent implementation):
    ``(node, label, score)`` where a small hand-labelled seed set
    (topic, spam/ham, language, site community) spreads to every
    reachable node through weighted edges. This is the categorical
    twin of :func:`trustrank`: trustrank grades *distance from
    trusted seeds* as a scalar; this assigns each host the *category*
    whose seeds dominate its neighborhood — the standard cheap
    host-level topic/community classifier for crawl scoping
    (feeds ``CrawlEngine(priority=...)`` and corpus domain mixing).

    Each round, every node's label becomes the argmax over labels of
    Σ incoming edge weight from neighbors currently carrying that
    label; seeds are CLAMPED to their given label (the
    semi-supervised convention — absorbing states, so the fixpoint is
    seed-determined, not the degenerate all-one-label LPA collapse).
    Unlabelled nodes with no labelled neighbor stay NULL until
    reached. Determinism: vote sums are rounded to ``sync_dp`` before
    the argmax and ties break on the lexicographically smallest
    label (min-struct over (−score, label)), so results are
    partition-order-invariant — same discipline as ``pagerank``.

    ``directed=False`` (default) symmetrizes the edge list — labels
    should flow both ways across a hyperlink for community detection;
    ``directed=True`` propagates along link direction only (e.g.
    endorsement-style topic flow).

    Scale shape per round: ONE dst-keyed map-side-combined
    aggregation (groupBy (node, label) — label cardinality is the
    tiny seed-class count, so the key space is |nodes|×|classes|) +
    one argmax agg on the same key + one node-keyed left join; the
    loop-invariant edge table is persisted pre-partitioned
    (``prepare_edge_table`` discipline), state is
    checkpoint-and-release like every other iterative loop here.
    """
    w = F.col(weight_col) if weight_col else F.lit(1.0)
    e = edges.select(
        F.col(src_col).alias("a"), F.col(dst_col).alias("b"),
        w.cast("double").alias("w"),
    )
    if not directed:
        e = e.unionByName(
            e.select(F.col("b").alias("a"), F.col("a").alias("b"), "w")
        ).groupBy("a", "b").agg(F.sum("w").alias("w"))
    e = e.repartition("a").sortWithinPartitions("a").persist()
    e.count()
    nodes = (
        e.select(F.col("a").alias("node"))
        .unionByName(e.select(F.col("b").alias("node")))
        .distinct()
    )
    seeds = seed_labels.select(
        F.col("node"), F.col("label").alias("_seed")
    ).distinct()
    state = nodes.join(F.broadcast(seeds), "node", "left").select(
        "node", F.col("_seed").alias("label"),
        F.col("_seed").isNotNull().alias("is_seed"),
    ).localCheckpoint(eager=True)
    prev = state
    for _ in range(iters):
        votes = (
            e.join(
                state.filter(F.col("label").isNotNull())
                .select(F.col("node").alias("a"), "label"),
                "a",
            )
            .groupBy(F.col("b").alias("node"), "label")
            .agg(F.round(F.sum("w"), sync_dp).alias("s"))
        )
        best = votes.groupBy("node").agg(
            F.min(F.struct((-F.col("s")).alias("ns"),
                           F.col("label"))).alias("_b")
        ).select(
            "node", F.col("_b.label").alias("_new"),
            (-F.col("_b.ns")).alias("_score"),
        )
        state = state.join(best, "node", "left").select(
            "node",
            F.when(F.col("is_seed"), F.col("label"))
            .otherwise(F.coalesce(F.col("_new"), F.col("label")))
            .alias("label"),
            "is_seed",
        ).localCheckpoint(eager=True)
        _release_checkpoint(prev)
        prev = state
    # final score column: the winning label's current vote mass (NULL
    # for seeds with no same-label neighbor and for unreached nodes)
    votes = (
        e.join(
            state.filter(F.col("label").isNotNull())
            .select(F.col("node").alias("a"), "label"),
            "a",
        )
        .groupBy(F.col("b").alias("node"), "label")
        .agg(F.round(F.sum("w"), sync_dp).alias("score"))
    )
    out = state.join(votes, ["node", "label"], "left").select(
        "node", "label", "score"
    ).localCheckpoint(eager=True)
    _release_checkpoint(state)
    e.unpersist(blocking=True)
    return out


def hyperball(
    edges: DataFrame,
    max_t: int = 8,
    lgk: int = 12,
    src_col: str = "src",
    dst_col: str = "dst",
    reverse: bool = False,
    broadcast_state: Optional[bool] = None,
) -> DataFrame:
    """HyperBall (Boldi & Vigna, "In-Core Computation of Geometric
    Centralities with HyperBall", ICDMW'13 — public paper, independent
    implementation): per-node neighborhood-function estimates
    ``(node, t, ball_size)`` for t = 0..convergence, where
    ``ball_size`` ≈ |{u : d(node → u) ≤ t}| along out-edges
    (``reverse=True``: in-balls — who can reach me). THE at-scale way
    to get distance-based statistics from a web graph: exact
    all-pairs BFS is O(n·m) and dead at 10⁹ nodes, while a ball here
    is a 2^lgk-register HLL sketch and one iteration is

        B_t(v) = B_{t−1}(v) ∪ ⋃_{v→w} B_{t−1}(w)

    = ONE join + ONE ``hll_union_agg`` over the SELF-LOOP-AUGMENTED
    edge list (v,v appended once per node — the B_{t−1}(v) term rides
    the same aggregation, so there is no separate node-keyed merge
    join; measured ~2× per-round savings vs the merge-join form).
    Built-in Datasketches aggregates, zero Python. Iteration stops
    when the global sum of (rounded) estimates fixpoints — at most
    the graph diameter, which for host graphs is small. Sketch state
    is checkpoint-and-release per round.

    ``broadcast_state``: broadcast the node→ball table into the join
    (None = auto: on while the node count ≤ 1M). Broadcasting removes
    the per-round edge-side exchange+sort — measured ~3× on the
    per-round aggregation — at the price of a driver-serial broadcast
    build each round; past ~1M nodes the state outgrows the driver
    and the sort-merge path takes over (AQE skew-splits the hot
    power-law keys there; the edge table is deliberately NOT
    pre-partitioned on the join key — pinning it defeats AQE's
    skew handling, measured 2.4× WORSE at local[16]).

    Per-edge traffic is one sketch blob per iteration — HyperBall's
    known cost profile; tune ``lgk`` down (Boldi & Vigna run 4–7 bit
    registers) when bandwidth matters more than the ~1.04/√2^lgk
    relative error.
    """
    a, b = (dst_col, src_col) if reverse else (src_col, dst_col)
    e0 = edges.select(F.col(a).alias("v"), F.col(b).alias("w")).distinct()
    nodes = (
        e0.select(F.col("v").alias("node"))
        .unionByName(e0.select(F.col("w").alias("node")))
        .distinct()
    )
    # loop-invariant: edges + one (node, node) self-loop per node,
    # persisted balanced (the distinct's hash partitioning); see
    # docstring for why it is NOT pre-partitioned on the join key
    e = e0.unionByName(
        nodes.select(F.col("node").alias("v"), F.col("node").alias("w"))
    ).persist()
    e.count()
    n_nodes = nodes.count()
    if broadcast_state is None:
        broadcast_state = n_nodes <= 1_000_000
    sk = nodes.groupBy("node").agg(
        F.hll_sketch_agg(F.col("node"), F.lit(lgk)).alias("ball")
    ).localCheckpoint(eager=True)
    est = F.round(F.hll_sketch_estimate(F.col("ball"))).cast("long")
    # each round's (node, t, size) slice is checkpointed so it
    # survives the release of the sketch table it reads from. r6: the
    # sketch fold, the slice and the fixpoint probe materialize in ONE
    # job per round — both checkpoints are LAZY and the probe's
    # aggregate computes them (3 jobs/round → 1; same dataflow).
    results = [sk.select("node", F.lit(0).alias("t"),
                         est.alias("ball_size"))
               .localCheckpoint(eager=False)]
    prev_total = results[0].agg(F.sum("ball_size")).first()[0]
    prev = sk
    for t in range(1, max_t + 1):
        state = sk.select(F.col("node").alias("w"), "ball")
        if broadcast_state:
            state = F.broadcast(state)
        sk = (
            e.join(state, "w")
            .groupBy(F.col("v").alias("node"))
            .agg(F.hll_union_agg(F.col("ball"), F.lit(True))
                 .alias("ball"))
        ).localCheckpoint(eager=False)
        results.append(sk.select("node", F.lit(t).alias("t"),
                                 est.alias("ball_size"))
                       .localCheckpoint(eager=False))
        total = results[-1].agg(F.sum("ball_size")).first()[0]
        _release_checkpoint(prev)
        prev = sk
        if total == prev_total:   # every ball fixpointed → diameter hit
            _release_checkpoint(results.pop())   # last round added nothing
            break
        prev_total = total
    out = results[0]
    for r in results[1:]:
        out = out.unionByName(r)
    out = out.localCheckpoint(eager=True)
    for r in results:
        _release_checkpoint(r)
    _release_checkpoint(sk)
    e.unpersist(blocking=True)
    return out


def harmonic_centrality(
    edges: DataFrame,
    max_t: int = 8,
    lgk: int = 12,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Harmonic centrality H(v) = Σ_{u≠v} 1/d(u → v) from HyperBall
    in-ball increments (Boldi & Vigna's headline application):
    ``(node, harmonic, n_coreachable)``. Distance-based authority that
    — unlike in-degree — sees the WHOLE upstream graph with 1/d decay,
    and unlike PageRank needs no damping choice; a standard crawl-
    ordering / host-authority signal. Cost = one :func:`hyperball`
    run; the increment fold is one node-keyed window over ≤diameter
    rows per node. Estimate jitter can make an increment slightly
    negative at big t; clamped at 0 (the function is monotone by
    construction)."""
    balls = hyperball(edges, max_t=max_t, lgk=lgk, src_col=src_col,
                      dst_col=dst_col, reverse=True)
    w = Window.partitionBy("node").orderBy("t")
    inc = balls.withColumn(
        "_inc",
        F.greatest(
            F.col("ball_size") - F.lag("ball_size", 1).over(w),
            F.lit(0),
        ),
    ).filter(F.col("t") > 0)
    return inc.groupBy("node").agg(
        F.sum(F.col("_inc") / F.col("t")).alias("harmonic"),
        F.sum("_inc").alias("n_coreachable"),
    )


def neighborhood_function(balls: DataFrame) -> DataFrame:
    """Global neighborhood function N(t) = Σ_v |B_t(v)| from a
    :func:`hyperball` run: ``(t, npairs)`` — the count of node pairs
    within distance t (ANF; Palmer, Gibbons & Faloutsos KDD'02). One
    groupBy over ≤ diameter × nodes slim rows; output is ≤ diameter
    rows."""
    return balls.groupBy("t").agg(F.sum("ball_size").alias("npairs"))


def effective_diameter(balls: DataFrame, q: float = 0.9) -> float:
    """Interpolated effective diameter at quantile ``q`` (Boldi &
    Vigna's standard report: the smallest t, linearly interpolated,
    such that N(t) ≥ q·N(t_max)) from a :func:`hyperball` run. The
    whole-web statistic behind "the web is a small world" tables — and
    the crawl-depth budget: a frontier deeper than the effective
    diameter is re-finding pages, not discovering them. Driver-side
    math over the ≤ diameter-row neighborhood function (bounded
    collect)."""
    nf = sorted((r.t, r.npairs)
                for r in neighborhood_function(balls).collect())
    if not nf:
        return 0.0
    target = q * nf[-1][1]
    prev_t, prev_n = nf[0]
    if prev_n >= target:
        return float(prev_t)
    for t, n in nf[1:]:
        if n >= target:
            # linear interpolation inside the crossing step
            return prev_t + (target - prev_n) / (n - prev_n)
        prev_t, prev_n = t, n
    return float(nf[-1][0])


def avg_distance(balls: DataFrame) -> float:
    """Mean finite distance between distinct reachable pairs, from the
    same neighborhood function: Σ_t t·(N(t)−N(t−1)) / (N(∞)−N(0)).
    Bounded collect like :func:`effective_diameter`."""
    nf = sorted((r.t, r.npairs)
                for r in neighborhood_function(balls).collect())
    if len(nf) < 2 or nf[-1][1] == nf[0][1]:
        return 0.0
    total = 0.0
    for (pt, pn), (t, n) in zip(nf, nf[1:]):
        total += t * (n - pn)
    return total / (nf[-1][1] - nf[0][1])


def top_anchors(edges: DataFrame, k: int = 3,
                dst_col: str = "dst",
                anchor_col: str = "anchor") -> DataFrame:
    """Most-frequent anchor texts per link target → (dst, anchor, cnt,
    rk ≤ k). Anchor text is the web's free human label for a page —
    a standard relevance/quality feature for ranking fetch candidates.
    Deterministic tie-break (cnt desc, anchor asc)."""
    counted = (
        edges.groupBy(F.col(dst_col).alias("dst"),
                      F.col(anchor_col).alias("anchor"))
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.partitionBy("dst").orderBy(F.desc("cnt"), F.asc("anchor"))
    return (
        counted.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
    )


def anchor_edges(pages: DataFrame,
                 urls: Optional[DataFrame] = None) -> DataFrame:
    """(src, dst, anchor) with REAL anchor text from the page store
    (Arrow kernel ``anchor_links_udf``) — the input to
    :func:`top_anchors` and :func:`focused_scores`. ``urls`` restricts
    to a crawled subset (broadcast semi-join before the UDF), same as
    :func:`page_link_edges`."""
    from website_to_agent_spark.functions.extract import anchor_links_udf

    p = pages.select("url", "html")
    if urls is not None:
        p = p.join(F.broadcast(urls.toDF("url")), "url", "left_semi")
    return (
        p.select(
            F.col("url").alias("src"),
            F.explode(
                anchor_links_udf(F.col("html"), F.col("url"))
            ).alias("link"),
        )
        .select(
            "src",
            F.col("link.url").alias("dst"),
            F.col("link.anchor").alias("anchor"),
        )
        .filter(F.col("dst").isNotNull())
    )


def focused_scores(edges: DataFrame, query: str,
                   shrink: float = 1.0,
                   dst_col: str = "dst",
                   anchor_col: str = "anchor") -> DataFrame:
    """Focused-crawl (shark-search) priority: score each link TARGET
    by how well the anchor text pointing at it matches the query —
    the only relevance evidence a crawler has before fetching. Feed
    the result straight into ``CrawlEngine(priority=..., priority_on=
    "url")`` so the ranked drain pops on-topic urls first.

    ``score = n_matching_tokens / (n_anchor_tokens + shrink)``
    aggregated over ALL anchors pointing at the url: absolute match
    evidence, shrunk by verbosity so "spark tutorial" outranks a
    100-token anchor that happens to contain "spark". Tokenization is
    the BM25 module's, so query semantics match the text scorer.
    One dst-keyed map-side-combined aggregation; anchors never leave
    their rows untokenized."""
    from website_to_agent_spark.operators.bm25 import query_terms, tokenize

    terms = query_terms(query)
    if not terms:
        return edges.select(
            F.col(dst_col).alias("url")
        ).distinct().withColumn("score", F.lit(0.0))
    toks = tokenize(F.coalesce(F.col(anchor_col), F.lit("")))
    qarr = F.array(*[F.lit(t) for t in terms])
    n_match = F.size(F.filter(toks, lambda t: F.array_contains(qarr, t)))
    per_edge = (n_match.cast("double")
                / (F.size(toks) + F.lit(float(shrink))))
    return (
        edges.select(F.col(dst_col).alias("url"),
                     per_edge.alias("_s"))
        .groupBy("url")
        .agg(F.sum("_s").alias("score"))
    )


def anchor_texts(edges: DataFrame, dst_col: str = "dst",
                 anchor_col: str = "anchor") -> DataFrame:
    """Per-target anchor-text field (url, anchor_text): every inbound
    anchor's text concatenated in sorted order (deterministic across
    partitionings — ``collect_list`` order is not). The classic web-IR
    anchor field (what :func:`~website_to_agent_spark.operators.bm25.
    bm25f_scores` consumes as the 'anchor' column): anchors describe
    the TARGET page in other authors' words. One dst-keyed shuffle of
    (dst, anchor) pairs; anchors are short, so rows are slim."""
    return (
        edges.filter(F.col(anchor_col).isNotNull()
                     & (F.col(anchor_col) != ""))
        .groupBy(F.col(dst_col).alias("url"))
        .agg(F.concat_ws(
            " ", F.sort_array(F.collect_list(F.col(anchor_col)))
        ).alias("anchor_text"))
    )


def spam_mass(ranks: DataFrame, trust: DataFrame,
              rank_col: str = "rank", trust_col: str = "trust",
              node_col: str = "node") -> DataFrame:
    """Spam-mass estimation (Gyöngyi, Berkhin, Garcia-Molina &
    Pedersen, "Link Spam Detection Based on Mass Estimation", VLDB'06
    — public paper, independent implementation): the fraction of a
    node's PageRank that does NOT flow from the trusted core.

    Inputs are the two rank vectors this module already produces —
    :func:`pagerank` (uniform restart) and :func:`trustrank`
    (restart on the vetted seed set) over the SAME edge list. Then

    - ``abs_mass``  = rank − trust          (the paper's M̃ = p − p⁺)
    - ``rel_mass``  = (rank − trust)/rank   (m̃; → 1 for pure link-farm
      rank, ≤ 0 for nodes whose trust share exceeds their rank —
      trusted seeds land here)

    Nodes with high ``rank`` AND ``rel_mass`` ≈ 1 are the actionable
    signal: important-looking hosts whose importance is unreachable
    from any trusted seed — exactly the link-spam shape. Feed
    ``rel_mass >= threshold`` into ``curation.cap_per_domain`` weights
    or a ``CrawlEngine(priority=...)`` demotion; the paper thresholds
    rel_mass and then sorts by rank, which is ``F.col("rel_mass") >=
    t`` + the existing top-k — no new machinery.

    Scale shape: ONE node-keyed outer join of two node-scale vectors
    (hosts, not pages — both inputs come from the host-collapsed
    graph), map-only arithmetic after. Nodes absent from one side
    coalesce to 0 rank/trust: a node the trust sweep never reached has
    zero trusted rank by definition. ``rel_mass`` is NULL only where
    ``rank`` is 0 or missing (no rank evidence — nothing to attribute,
    the paper's vectors are defined over the same graph so this is a
    caller-mismatch guard, not a semantic case).
    """
    r = ranks.select(F.col(node_col).alias("node"),
                     F.col(rank_col).alias("rank"))
    t = trust.select(F.col(node_col).alias("node"),
                     F.col(trust_col).alias("trust"))
    j = r.join(t, "node", "full_outer").select(
        "node",
        F.coalesce(F.col("rank"), F.lit(0.0)).alias("rank"),
        F.coalesce(F.col("trust"), F.lit(0.0)).alias("trust"),
    )
    return j.select(
        "node", "rank", "trust",
        (F.col("rank") - F.col("trust")).alias("abs_mass"),
        F.when(F.col("rank") > 0,
               (F.col("rank") - F.col("trust")) / F.col("rank"))
        .alias("rel_mass"),
    )


def triangle_count(edges: DataFrame, src_col: str = "src",
                   dst_col: str = "dst") -> DataFrame:
    """Exact per-node triangle counts over the UNDIRECTED simple graph
    underlying ``edges`` → (node, deg, triangles). Triangle density is
    the classic local link-farm signal (densely interlinked host
    clusters close many triangles; organic link neighborhoods are
    sparse — Becchetti, Boldi, Castillo & Gionis, "Efficient
    semi-streaming algorithms for local triangle counting", KDD'08 —
    public paper, independent implementation), and feeds
    :func:`clustering_coefficient` directly.

    Algorithm: degree-ordered edge orientation (Suri & Vassilvitskii,
    "Counting triangles and the curse of the last reducer", WWW'11 —
    public paper, independent implementation). Each undirected edge is
    oriented from the lower- to the higher-(degree, node) endpoint —
    a total order, so every triangle {u,v,w} is counted exactly once
    as the wedge u→v, u→w (rank v < rank w) closed by the edge v→w.

    Scale shape — why this survives a power-law web graph:

    - the wedge self-join keys on the wedge CENTER u, and orientation
      bounds every node's OUT-degree at O(√m) regardless of its raw
      degree (a hub of degree d keeps only its ≥d-degree neighbors as
      out-edges) — the "last reducer" hot key that kills the naive
      neighbor join cannot exist;
    - the closing join keys on the (v, w) pair against the oriented
      edge table — pair keys are near-unique, no skew;
    - dataflow is three hash shuffles total (degrees, wedges, close)
      + one union-count, all map-side-combinable; no iteration, no
      driver state, text never moves (node ids only).
    """
    a = F.least(F.col(src_col), F.col(dst_col))
    b = F.greatest(F.col(src_col), F.col(dst_col))
    # canonical edge set and degrees are each consumed 2-3× below
    # (degree derivation, the two orientation joins, the closing join,
    # the final outer join) — persist both so the upstream lineage and
    # the distinct shuffle run once per action, not per consumer
    und = (
        edges.select(a.alias("a"), b.alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .persist()
    )
    deg = (
        und.select(F.col("a").alias("node"))
        .unionByName(und.select(F.col("b").alias("node")))
        .groupBy("node").agg(F.count("*").alias("deg"))
        .persist()
    )
    # orient low-(deg, node) → high-(deg, node); carry the endpoint
    # rank key so the wedge join can order its two spokes without a
    # second degree lookup
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("_da"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("_db"))
    withd = und.join(da, "a").join(db, "b")
    lower_first = F.struct(F.col("_da"), F.col("a")) < F.struct(
        F.col("_db"), F.col("b"))
    oriented = withd.select(
        F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(lower_first, F.col("_db")).otherwise(F.col("_da"))
        .alias("_dv"),
    )
    e1 = oriented.select(
        F.col("u"), F.col("v"), F.col("_dv").alias("_d1"))
    e2 = oriented.select(
        F.col("u"), F.col("v").alias("w"), F.col("_dv").alias("_d2"))
    wedges = e1.join(e2, "u").filter(
        F.struct(F.col("_d1"), F.col("v")) < F.struct(
            F.col("_d2"), F.col("w"))
    ).select("u", "v", "w")
    closed = wedges.join(
        oriented.select(F.col("u").alias("v"), F.col("v").alias("w")),
        ["v", "w"],
    )
    per_node = (
        closed.select(F.col("u").alias("node"))
        .unionByName(closed.select(F.col("v").alias("node")))
        .unionByName(closed.select(F.col("w").alias("node")))
        .groupBy("node").agg(F.count("*").alias("triangles"))
    )
    return deg.join(per_node, "node", "left").select(
        "node", "deg",
        F.coalesce(F.col("triangles"), F.lit(0)).cast("long")
        .alias("triangles"),
    )


def clustering_coefficient(edges: DataFrame, src_col: str = "src",
                           dst_col: str = "dst") -> DataFrame:
    """Local clustering coefficient c(v) = 2·T(v) / (deg(v)·(deg(v)−1))
    over the undirected simple graph → (node, deg, triangles, coeff);
    degree-<2 nodes get 0.0 (no possible wedge — the conventional
    value). High-PageRank hosts with near-1 coefficients are the
    interlinked-cluster shape link farms exhibit; organic hub
    neighborhoods score low. Map-only arithmetic over
    :func:`triangle_count`'s output — same three-shuffle cost."""
    t = triangle_count(edges, src_col=src_col, dst_col=dst_col)
    return t.withColumn(
        "coeff",
        F.when(
            F.col("deg") >= 2,
            2.0 * F.col("triangles")
            / (F.col("deg") * (F.col("deg") - F.lit(1))),
        ).otherwise(F.lit(0.0)),
    )


def k_core(edges: DataFrame, k: int, src_col: str = "src",
           dst_col: str = "dst", max_iters: int = 100) -> DataFrame:
    """The k-core of the undirected simple graph under ``edges`` —
    the maximal subgraph in which every node keeps degree ≥ k
    (Seidman, "Network structure and minimum degree", Social Networks
    1983 — public definition, independent implementation). Returns
    (node, deg): the surviving nodes with their WITHIN-CORE degree.

    Web-curation use: the dense-core complement to
    :func:`clustering_coefficient` — link farms live in
    high-coreness shells (a farm of n hosts linking each other is an
    (n−1)-core its organic neighborhood never reaches), while the
    k-core of the HOST graph at modest k is the standard "main web"
    extraction that drops the long pendant fringe before expensive
    per-edge analytics (HyperBall, triangles) run.

    Algorithm: synchronous peeling — drop every node with current
    degree < k, remove its edges, repeat until no node is dropped
    (the classic fixpoint; order-independent, so the parallel rounds
    compute exactly the sequential result). Per round ONE map-side-
    combined degree aggregation + two node-keyed anti-joins against
    the (node-scale) dropped set, over a STRICTLY SHRINKING edge
    table — the round cost falls monotonically, and rounds are
    bounded by the peel depth (web graphs peel shallow: most of the
    fringe is degree-1 and leaves in round one). The loop variable is
    checkpoint-materialized and released per round (bounded executor
    storage at any depth); one isEmpty probe per round detects the
    fixpoint, ``max_iters`` bounds pathological chains.
    """
    a = F.least(F.col(src_col), F.col(dst_col))
    b = F.greatest(F.col(src_col), F.col(dst_col))
    cur = (
        edges.select(a.alias("a"), b.alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def _deg(e: DataFrame) -> DataFrame:
        return (
            e.select(F.col("a").alias("node"))
            .unionByName(e.select(F.col("b").alias("node")))
            .groupBy("node").agg(F.count("*").alias("deg"))
        )

    for _ in range(max_iters):
        # lazy checkpoint: the isEmpty probe's scan materializes the
        # degree table in the same job (r6 — 3 jobs/round → 2)
        deg = _deg(cur).localCheckpoint(eager=False)
        drop = deg.filter(F.col("deg") < k).select("node")
        if drop.isEmpty():
            _release_checkpoint(deg)
            break
        nxt = (
            cur.join(drop.withColumnRenamed("node", "a"), "a", "left_anti")
            .join(drop.withColumnRenamed("node", "b"), "b", "left_anti")
            .select("a", "b")
            .localCheckpoint(eager=True)
        )
        _release_checkpoint(deg)
        _release_checkpoint(cur)
        cur = nxt
    # the returned frame reads the final checkpoint, which the caller
    # owns (releasing it here would orphan the truncated lineage —
    # same contract as the rank loops' final iterate)
    return _deg(cur)
