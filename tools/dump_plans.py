"""Generate BENCH/PLANS.md: `.explain("formatted")` of the headline
operators with scale commentary — the "is this the plan you'd want at
100 TB" review artifact.

Usage: python tools/dump_plans.py
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "BENCH", "PLANS.md")


def _trim(plan: str, max_lines: int = 60) -> str:
    # keep the tree + the scan/join detail blocks; drop the long tail
    lines = plan.splitlines()
    if len(lines) > max_lines:
        lines = lines[:max_lines] + ["   … (detail blocks trimmed)"]
    return "\n".join(re.sub(r"#\d+L?", "", l) for l in lines)


def main() -> None:
    from pyspark.sql import functions as F

    from website_to_agent_spark import fixtures, plans
    from website_to_agent_spark.functions.extract import extract_udf
    from website_to_agent_spark.operators import ann, bm25, dedupe
    from website_to_agent_spark.operators.crawl import CrawlEngine, _reg_domain
    from website_to_agent_spark.session import get_spark

    spark = get_spark(app_name="plan-dump", cores=4, shuffle_partitions=4)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    site = fixtures.generate_site(n_pages=20, big_text_pages=0)
    pages = fixtures.pages_rows_to_spark(spark, site.rows)

    sections = []

    def add(title: str, df, note: str):
        sections.append((title, _trim(plans.explain_str(df)), note))

    # 1. extraction pipeline over the pages store
    ext = pages.select("url", "html").withColumn(
        "ext", extract_udf(F.col("url"), F.col("html"))
    ).select("url", "ext.title", "ext.text")
    add(
        "Extraction over the pages store (north-rule hot path)",
        ext,
        "One `ArrowEvalPython` stage (the vectorized kernel) fed by a "
        "column-pruned scan — only `url, html` are read, never the "
        "stored `text/lang`. At 100 TB this is a single map stage: no "
        "shuffle, scales linearly with executors (measured eff 0.897).",
    )

    # 2. fetch join
    frontier = spark.createDataFrame(
        [("j", site.seeds[0], 0, 0)],
        "job_id string, url string, depth int, ord long",
    )
    fetched = CrawlEngine._fetch(
        frontier, pages.select(F.col("url").alias("p_url"), "html")
    )
    add(
        "Frontier ⋈ pages fetch join (J1)",
        fetched,
        "`BroadcastHashJoin` building the drained frontier batch; the "
        "pages table is STREAMED — a left join preserving the batch "
        "would sort-merge and shuffle the whole page store every "
        "superstep. Misses come from a second tiny broadcast anti-join.",
    )

    # 2b. revalidation-snapshot attach on the drained batch, then the
    # fetch — the same hit/miss join twice
    from website_to_agent_spark.operators import recrawl

    crawled = spark.createDataFrame(
        [(site.seeds[0], True, "t", None, [], "x", "x", "x")],
        "url string, success boolean, title string, description string,"
        " keywords array<string>, text string, markdown string,"
        " content string",
    )
    add(
        "Drained batch ⋈ revalidation snapshot attach + fetch",
        CrawlEngine._fetch(
            CrawlEngine._attach_snapshots(
                frontier,
                CrawlEngine._snapshot_columns(
                    recrawl.crawl_snapshots(crawled, pages).localCheckpoint()
                ),
            ),
            pages.select(F.col("url").alias("p_url"), "html"),
        ),
        "`crawl.hit_miss_join` twice, in the engine's order: the drained "
        "batch is broadcast against the corpus-scale snapshot table, "
        "which streams (rows without a snapshot come from a broadcast "
        "anti-join against the hit keys, with typed-null `_snap_*` "
        "columns); the annotated batch is then broadcast against the "
        "page store for the fetch. The snapshot payload rides the "
        "batch; the fetched html is never broadcast.",
    )

    # 2c. candidate seen anti-join behind each URL-seen prefilter, as
    # the engine binds it (build, anti-join with the persisted probe)
    seen = spark.createDataFrame(
        [("j", u) for u in site.seeds] + [("j", site.seeds[0] + "?x")],
        "job_id string, url string",
    )
    cands = spark.createDataFrame(
        [("j", site.seeds[0], 0, 0, 1), ("j", site.seeds[0] + "#new", 0, 1, 1)],
        "job_id string, url string, parent_ord long, pos int, depth int",
    )
    dom = _reg_domain()
    for name in ("bloom", "cuckoo"):
        sf = CrawlEngine(spark, pages, seen_filter=name)._seen_filter
        table = sf.build(
            seen.select(dom.alias("reg_domain"), "url")
        ).localCheckpoint(eager=True)
        add(
            f"Candidate seen anti-join ({name} prefilter)",
            sf.anti_join(
                cands.withColumn("reg_domain", dom), seen, table,
                join_keys=["job_id", "url"], cache_out=[],
            ).drop("reg_domain"),
            "`bloom.prefiltered_anti_join`, the one contract both "
            "filters share: the probe (broadcast per-domain filter "
            "table + Arrow probe kernel) is persisted once — both "
            "branches read the same `InMemoryRelation`, so the kernel "
            "runs once per superstep. Probe negatives go straight to "
            "the union; only `maybe_seen` positives reach the exact "
            "left-anti join against the seen set.",
        )

    # 3. filter pushdown proof
    filt = docs.filter(F.col("doc_id") < 10).select("doc_id", "n_chars")
    add(
        "Predicate pushdown + column pruning",
        filt,
        "`PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,10)]` and a "
        "two-column ReadSchema: filters and projection reach the "
        "parquet scan, so partition/row-group pruning is free at scale.",
    )

    # 4. BM25 — pure column math
    add(
        "BM25 scoring (R1)",
        bm25.bm25_scores(docs, "data table"),
        "No Python evaluation nodes anywhere — idf·tf column math "
        "inside whole-stage codegen; the only shuffles are the two "
        "corpus-stat aggregations (map-side partial first).",
    )

    # 5. MinHash LSH
    add(
        "MinHash+LSH near-dup pairs",
        dedupe.minhash_lsh_pairs(docs.limit(200)),
        "Signature build is one pass of hash/aggregate expressions "
        "(JVM-side); banding turns the O(n²) pair space into ONE "
        "groupBy on (band, bucket) whose grouped row expands i<j "
        "candidate pairs with array expressions (r3: replaced the "
        "self-join, which planned the shingle-explode + 32-min-agg "
        "signature stage twice — Catalyst does not share subtrees "
        "across join sides). Skew is bounded by bucket size, not "
        "corpus size; byte-identical mega-buckets belong to exact "
        "dedup, which runs first.",
    )

    # 6. ANN cosine top-k
    q = emb.limit(2).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    add(
        "ANN brute-force cosine top-k",
        ann.cosine_topk(emb, q, k=3),
        "`BroadcastNestedLoopJoin(BuildRight)` — the query set is "
        "broadcast, the corpus is scanned once, `WindowGroupLimit` "
        "prunes to top-k before the per-query shuffle (partial top-k "
        "map-side). The IVF variant replaces the full scan with a "
        "centroid-pruned equi-join.",
    )

    # 7. key_topics distributed top-k (r2: no single-partition window)
    from website_to_agent_spark.operators import textquality as tq

    add(
        "Global key-topics top-k (A8)",
        tq.key_topics(docs, k=10),
        "`TakeOrderedAndProject` — per-partition heaps merged on the "
        "driver (k rows), replacing the round-1 unpartitioned "
        "`row_number()` window that moved the whole vocabulary to one "
        "partition. Rank derives from the k-row result; no WindowExec "
        "in the plan.",
    )

    # 8. ANN LSH/IVF with planes/centroids as broadcast DATA (r2)
    dim = len(emb.first().embedding)
    add(
        "ANN LSH top-k (hyperplanes as broadcast data)",
        ann.lsh_topk(emb, q, dim=dim, k=3),
        "The hyperplane set rides in ONE broadcast row "
        "(array<struct<w,p>>) cross-joined to both sides — plan size is "
        "dim-independent (asserted at dim=512 in tests); the bucket "
        "equi-join touches only same/probe-bucket candidates.",
    )
    add(
        "ANN IVF top-k (stride centroids, broadcast)",
        ann.ivf_topk(emb, q, dim=dim, k=3, n_centroids=4),
        "Centroids are a deterministic stride sample shipped as a "
        "broadcast (cid, cvec) table packed into one row; assignment is "
        "a zero-shuffle argmax per corpus row; a query probes n_probe "
        "centroid lists via a broadcast equi-join. At rest the corpus "
        "would be written partitioned by `centroid` for pruned probes.",
    )

    # 9. bucketed frontier drain (r2: no Exchange before the window)
    import tempfile

    from pyspark.sql import Window

    from website_to_agent_spark.sources.catalog import SnapshotCatalog

    with tempfile.TemporaryDirectory() as d:
        cat = SnapshotCatalog(d)
        fr = spark.range(1000).select(
            F.concat(F.lit("job"), (F.col("id") % 8).cast("string")).alias("job_id"),
            F.concat(F.lit("u"), F.col("id")).alias("url"),
            F.lit(1).alias("depth"), F.col("id").alias("ord"),
        )
        cat.commit(0, {"frontier": fr}, bucket={"frontier": (["job_id"], 4)})
        w = Window.partitionBy("job_id").orderBy("ord")
        drained = (
            cat.read(spark, 0, "frontier")
            .withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") <= 5)
        )
        add(
            "Bucketed frontier drain (SURVEY §7.6)",
            drained,
            "The frontier snapshot is written `bucketBy(job_id)`; the "
            "drain window's hash-distribution requirement is satisfied "
            "by the bucketed scan — NO Exchange in the plan (the "
            "unbucketed write of the same data shuffles; both asserted "
            "in test_scale_path).",
        )

    # 10. selection layer (r3): split → pack, and the LM filter
    from website_to_agent_spark.operators import sampling, webtext

    add(
        "Hash-split → context-window packing (selection layer)",
        sampling.pack_sequences(
            sampling.split_by_hash(docs, "doc_id",
                                   {"train": .8, "val": .1, "test": .1}),
            5000, "doc_id", F.length("text"), n_groups=8,
        ),
        "The split is a pure md5 expression (map-only — no Exchange for "
        "it anywhere); the packing prefix-sum windows are partitioned "
        "by pack_group, so the one Exchange is hash(pack_group), never "
        "a global sort. A naive global-order cumsum would be a "
        "single-partition WindowExec — the anti-pattern this engine "
        "bans.",
    )
    add(
        "Char-LM perplexity scoring (CCNet-style filter)",
        webtext.lm_perplexity(
            docs, webtext.train_char_lm(docs.limit(20))
        ),
        "Train: explode + one map-side-combined groupBy (table ≤ "
        "charset^n rows regardless of corpus size). Score: explode → "
        "BroadcastHashJoin against the table → per-doc partial avg — "
        "the corpus shuffles only (doc_id, logp), never text. The "
        "normalization regex is bound to a column BEFORE the n-gram "
        "transform: transform() inlines expressions into every lambda "
        "element, and the inlined form is O(len²) per doc (35 s vs "
        "4.6 s measured on the sf0.1 bench).",
    )

    # 11. curation (r3): decontamination over a capped corpus
    from website_to_agent_spark.operators import curation

    add(
        "Domain cap → benchmark decontamination (curation layer)",
        curation.decontaminate(
            curation.cap_per_domain(docs, "lang", 50),
            docs.limit(5),
        ),
        "The cap is one hash(domain) Exchange + a bounded window; the "
        "benchmark gram set is a BroadcastHashJoin build side (eval "
        "suites are tiny next to a crawl), so the corpus side streams "
        "through explode → broadcast join → per-doc count; only the "
        "flag join returns to the full rows. No SortMergeJoin against "
        "the corpus anywhere.",
    )

    # 12. link-graph PageRank — one synchronous iteration (r3)
    from website_to_agent_spark.operators import linkgraph

    lg_edges = spark.createDataFrame(
        [("a", "b", 3), ("b", "c", 2), ("c", "a", 1), ("c", "d", 1)],
        "src_host string, dst_host string, weight long",
    ).select(
        F.col("src_host").alias("src"), F.col("dst_host").alias("dst"),
        F.col("weight").alias("w"),
    )
    lg_nodes = (
        lg_edges.select(F.col("src").alias("node"))
        .unionByName(lg_edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    lg_outw = lg_edges.groupBy("src").agg(F.sum("w").alias("wout"))
    lg_e = linkgraph.prepare_edge_table(lg_edges, lg_outw)
    lg_ranks = lg_nodes.select("node", F.lit(0.25).alias("r"))
    add(
        "PageRank — one synchronous iteration (link-graph layer)",
        linkgraph.pagerank_step(lg_nodes, lg_e, lg_outw, lg_ranks,
                                n=4, damping=0.85, sync_dp=12),
        "Per iteration: ONE dst-keyed aggregation (contributions, "
        "map-side partial) + a 1-row `BroadcastNestedLoopJoin` for the "
        "dangling mass — never a driver collect of ranks. The "
        "loop-invariant edge table is `persist()`-ed pre-partitioned "
        "AND pre-sorted on src (r5, `prepare_edge_table`): an "
        "InMemoryTableScan keeps partitioning/ordering visible to "
        "Catalyst, so even when ranks outgrows broadcast the "
        "iteration's sort-merge join scans the edge side IN PLACE and "
        "moves only the node-scale ranks table (a localCheckpoint "
        "here would hide the partitioning behind an ExistingRDD and "
        "re-shuffle+re-sort the edges every iteration — asserted in "
        "test_rank_loop_edge_side_never_moves). The rank loop "
        "variable stays localCheckpoint-materialized per iteration "
        "(truncating the otherwise exponentially growing plan) and "
        "the superseded iteration's blocks are released — bounded "
        "storage at any iteration count (asserted in test_linkgraph). "
        "Host PageRank runs on the host_graph collapse, so the "
        "iterated table is |hosts|, not |pages|.",
    )

    # 13. priority-queue frontier drain (r3): host-scored ranked batch
    prio = spark.createDataFrame(
        [("www.example.com", 0.9)], "host string, score double"
    )
    live = spark.range(100).select(
        F.lit("j").alias("job_id"),
        F.concat(F.lit("https://www.example.com/p/"),
                 F.col("id").cast("string")).alias("url"),
        F.lit(1).alias("depth"), F.col("id").alias("ord"),
    )
    from website_to_agent_spark.functions import urlfns as _ufn
    from pyspark.sql import Window as _W

    scored = live.withColumn("_ph", _ufn.host(F.col("url"))).join(
        F.broadcast(prio.withColumnRenamed("host", "_ph")), "_ph", "left"
    ).drop("_ph")
    drained = scored.withColumn(
        "_rk",
        F.row_number().over(
            _W.partitionBy("job_id").orderBy(F.desc_nulls_last("score"), "ord")
        ),
    ).filter(F.col("_rk") <= 8)
    add(
        "Priority-queue drain (host-scored ranked batch)",
        drained,
        "The scores table (host PageRank — |hosts| rows) rides a "
        "`BroadcastHashJoin`; the ranked-batch window is partitioned "
        "by job_id so parallelism stays across jobs — no global sort, "
        "no score shuffle of the frontier beyond the per-job window's "
        "hash Exchange (satisfied by the bucketed frontier scan when "
        "bucket_frontier is on, as in §9).",
    )

    # 14. repeated-span excision (r4): suffix-array-style substring
    # dedup — digest window + interval merge + HOF reassembly
    from website_to_agent_spark.operators import curation as _cur

    add(
        "Repeated-span excision (suffix-array-style substring dedup)",
        _cur.remove_duplicate_spans(docs.select("doc_id", "text")),
        "Three movements, all shuffle-minimal: (1) gram md5 digests "
        "posexplode map-side, ONE `row_number` window on the 16-byte "
        "digest elects winners; (2) gaps-and-islands interval merge "
        "shares a single doc_id Exchange across both windows and both "
        "aggregations (Catalyst reuse); (3) the merged span list rides "
        "a `BroadcastHashJoin` back and reassembly is a pure-codegen "
        "higher-order filter — no UDFs, gram text never shuffles.",
    )

    # 15. DSIR importance weights (r4): data selection
    from website_to_agent_spark.operators import sampling as _sam

    add(
        "DSIR importance weights (hashed n-gram data selection)",
        _sam.dsir_importance(
            docs.select("doc_id", "text"),
            docs.select("doc_id", "text").limit(50), buckets=512,
        ),
        "Both feature distributions are map-combined bucket counts "
        "(≤`buckets` rows out); the log-ratio table and the 1-row "
        "totals are broadcast, so scoring shuffles only (doc_id, "
        "bucket) integer counts — never grams, never text. The "
        "dim-bounded broadcast is the same scale contract as the LM "
        "perplexity table.",
    )

    # 16. inverted index (r4-s3): postings build
    from website_to_agent_spark.operators import indexing as _idx

    add(
        "Inverted index (postings build)",
        _idx.inverted_index(docs.select("doc_id", "text")),
        "Two Exchanges total: (term, doc) with a map-side "
        "`partial_count` (the 100 TB text collapses to integer pairs "
        "before the shuffle), then (term) with `partial_collect_list` "
        "— per-term postings assemble map-side too. The postings "
        "string renders inside the final fold; `max_df` prunes "
        "stopword terms BEFORE the collect so the largest postings "
        "row is bounded (and `index_report` makes the prune visible).",
    )

    # 17. trap report + frontier hygiene (r4-s3)
    from website_to_agent_spark.operators import traps as _traps

    _urls = docs.select(
        F.concat(F.lit("https://h.x/cal?d="),
                 F.col("doc_id").cast("string")).alias("url"))
    _rep = _traps.trap_report(_urls, min_urls=8)
    add(
        "Crawler-trap report + exclude_traps (frontier hygiene)",
        _traps.exclude_traps(_urls, _rep),
        "Template collapse is whole-stage-codegen regex (map-only); "
        "the report is ONE map-combinable aggregation keyed (host, "
        "template) — a trap's million URLs collapse to one row before "
        "the Exchange. exclude_traps anti-joins the frontier against "
        "the flagged-template set via `BroadcastHashJoin`: the "
        "frontier itself never shuffles. The same shape runs inside "
        "the crawl superstep as CrawlEngine(trap_max_urls=N).",
    )

    # 18. trustrank single iteration (r4-s3)
    from website_to_agent_spark.operators import linkgraph as _lg

    _hg = docs.select(
        F.concat(F.lit("h"), (F.col("doc_id") % 10).cast("string"))
        .alias("src"),
        F.concat(F.lit("h"), ((F.col("doc_id") * 7) % 10).cast("string"))
        .alias("dst"),
    ).groupBy("src", "dst").agg(F.count("*").alias("w"))
    add(
        "TrustRank (seed-personalized PageRank, one run)",
        _lg.trustrank(_hg, ["h0", "h1"], iters=2, weight_col="w"),
        "Per iteration: one dst-keyed Exchange for the contributions "
        "+ a 1-row dangling-mass broadcast; the restart vector rides "
        "the checkpointed node table (seed set broadcast ONCE at "
        "setup). Identical shuffle budget to pagerank — the "
        "personalization is free at plan level.",
    )

    # 19. BM25 served from the persisted index (r4-s3)
    _rel = _idx.postings_relational(docs.select("doc_id", "text"))
    _norms = _idx.doc_norms(docs.select("doc_id", "text"))
    add(
        "BM25 served from persisted postings (query path)",
        _idx.bm25_from_postings(_rel, _norms, "data table join fast"),
        "Query-time cost is the query terms' postings slice (an "
        "`isin` filter that partition-prunes a term-bucketed store), "
        "a tiny per-term df agg broadcast back, one norms join, and "
        "a (doc, score) fold — the corpus TEXT is not in the plan at "
        "all. The scan-path scorer (bm25.bm25_scores) re-tokenizes "
        "everything per query; this is the shape that serves "
        "thousands of queries against one build.",
    )

    # 20. redirect closure attach + fetch of the final url: the
    # per-superstep part of redirect following (the closure itself is
    # resolved and checkpointed once per crawl)
    _redir_store = docs.select(
        F.format_string("https://r.ex.com/%d", F.col("doc_id")).alias("url"),
        F.encode(F.col("text"), "UTF-8").alias("html"),
        F.when(
            F.col("doc_id") % 3 != 0,
            F.format_string("https://r.ex.com/%d", F.col("doc_id") - 1),
        ).alias("redirect_to"),
    )
    _redir_batch = docs.limit(8).select(
        F.lit("j").alias("job_id"),
        F.format_string("https://r.ex.com/%d", F.col("doc_id")).alias("url"),
        F.lit(0).alias("depth"),
        F.col("doc_id").cast("long").alias("ord"),
    )
    add(
        "Redirect closure attach + fetch of the final url (per superstep)",
        CrawlEngine._fetch_following(
            CrawlEngine._attach_redirects(
                _redir_batch, CrawlEngine._redirect_closure(_redir_store)
            ),
            _redir_store.select(F.col("url").alias("p_url"), "html"),
        ),
        "The redirect closure (url → final_url, n_hops, redirect_ok for "
        "every redirect source) is resolved ONCE per crawl and "
        "checkpointed — the scan of the checkpoint is the closure "
        "side here. Per superstep it meets the drained batch in the "
        "same broadcast-inner + broadcast-anti hit/miss join as the "
        "fetch: the batch is broadcast, the closure streams, and a "
        "miss is a url that does not redirect. The fetch is then the "
        "ordinary J1 join keyed on final_url, plus the too-many-hops "
        "rows as forced failures. No chain walk and no Exchange on "
        "the store side per superstep.",
    )

    # 21. 304 revalidation status pass (r4-s6)
    from website_to_agent_spark.operators import recrawl as _rc

    _snaps = docs.select(
        F.format_string("https://v.ex.com/%d", F.col("doc_id")).alias("url"),
        F.md5(F.encode(F.col("text"), "UTF-8")).alias("digest"),
    )
    _web = docs.select(
        F.format_string("https://v.ex.com/%d", F.col("doc_id")).alias("url"),
        F.encode(F.col("text"), "UTF-8").alias("html"),
    )
    add(
        "Conditional revalidation (If-None-Match / 304 statuses)",
        _rc.revalidate(_snaps, _web),
        "One url-keyed hash join of two corpus-scale tables — the "
        "honest minimum; the validator check (md5 over raw html "
        "bytes) is a column expression inside whole-stage codegen, "
        "so the 'is it unchanged' pass never parses, never calls "
        "Python, and only `modified` rows go on to pay the Arrow "
        "extraction kernel. At a mostly-unchanged web re-crawl this "
        "turns the dominant cost (~0.9 ms/page parse) into a "
        "digest compare.",
    )

    # 22. mergeable sketches (r5-s5)
    from website_to_agent_spark.operators import sketches as _sk

    _toks = docs.select(F.explode(
        F.split(F.lower("text"), "[^a-z0-9]+")).alias("term")
    ).filter(F.col("term") != "")
    add(
        "Count-min sketch build (relational CMS)",
        _sk.cms_table(_toks, "term", depth=4, width=1024),
        "ONE map-side-combined aggregation: the explode(depth) row "
        "multiplication collapses to ≤ depth×width rows per task "
        "before the single Exchange (partial_count visible above "
        "it). Output is bounded by the sketch size, not the data — "
        "merging epochs is union+sum, and the md5 hash family is "
        "mirrored cell-for-cell by the DuckDB oracle.",
    )
    add(
        "HLL distinct-sketch rollup (incremental corpus stats)",
        _sk.hll_rollup(
            _sk.hll_sketches(docs, ["text"], group_cols=["source"]),
            ["text"]),
        "Per-shard sketches (one groupBy) then a global hll_union_agg "
        "— kilobyte blobs, JVM Datasketches aggregates, zero Python. "
        "The rollup keeps the merged sketch column, so next epoch's "
        "delta unions in WITHOUT re-reading this epoch's data.",
    )

    # 23. HyperBall round (r5-s5)
    from website_to_agent_spark.operators import linkgraph as _lg

    _edges = docs.select(
        F.concat(F.lit("h"), (F.col("doc_id") % 40).cast("string"))
        .alias("src"),
        F.concat(F.lit("h"), ((F.col("doc_id") * 7 + 1) % 40)
                 .cast("string")).alias("dst"),
    )
    add(
        "HyperBall ball table (one full run, diameter-bounded rounds)",
        _lg.hyperball(_edges, max_t=2),
        "Each round is ONE join + ONE hll_union_agg over the "
        "self-loop-augmented edge list (the previous ball rides the "
        "same aggregation — no separate merge join), with the node→"
        "ball table broadcast while it fits (auto ≤1M nodes; past "
        "that, SMJ with the exchange left visible so AQE can "
        "skew-split the power-law keys). Sketch blobs are the only "
        "per-edge traffic (HyperBall's documented cost profile; "
        "shrink lgk when bandwidth binds). Rounds auto-stop at the "
        "diameter fixpoint; per-round state is checkpointed-and-"
        "released so the final plan is flat unions of per-round "
        "slices, not an iteration tower.",
    )

    # 24. DUST rule mining (r5-s8)
    from website_to_agent_spark.operators import dust as _dust

    _pd = docs.select(
        F.concat(F.lit("https://s"), (F.col("doc_id") % 5).cast("string"),
                 F.lit(".ex/a/"), F.col("doc_id").cast("string"),
                 F.lit("/")).alias("url"),
        F.md5(F.col("text")).alias("digest"),
    )
    add(
        "DUST rule mining (learned URL-alias rules)",
        _dust.dust_rules(_pd),
        "Span generation is ONE `ArrowEvalPython`-free mapInPandas "
        "stage (no per-row Python UDFs — the kernel is Arrow-batched "
        "and map-only; the nested-HOF column twin measured 25× "
        "slower and never reached codegen). Then exactly two "
        "exchanges: the envelope-keyed bucket groupBy (mega-buckets "
        "capped deterministically before the in-row quadratic pair "
        "expansion, buckets round-robined so AQE's byte-based "
        "coalescing can't serialize the expansion) and the "
        "rule-granular (alpha, beta) aggregation, map-side combined. "
        "Rule application compiles the collected (tiny) rule table "
        "into one chained regexp_replace — frontier canonicalization "
        "is map-only, zero shuffle, whole-stage codegen.",
    )

    # 25. MaxScore/WAND pruned serve — the survivor-scoring phase
    from website_to_agent_spark.operators import indexing as _idx

    _rel = _idx.postings_relational(docs)
    _norms = _idx.doc_norms(docs)
    add(
        "Term impacts (per-term BM25 upper bounds, index-build time)",
        _idx.term_impacts(_rel, _norms),
        "One postings⋈norms join + one term-keyed map-combined max — "
        "built ONCE beside the index like Lucene's impact metadata. "
        "At query time `search_pruned` is three short phases: exact "
        "scores for the rarest terms' docs (θ seed — any k exact "
        "scores lower-bound the true k-th best, so pruning is safe "
        "by construction), one slim term-broadcast join + doc-keyed "
        "sum for per-doc upper bounds (no norms join, no scoring), "
        "then exact scoring of survivors only. The stopword's "
        "million-doc postings slice never reaches the norms join or "
        "the scoring exchange.",
    )

    with open(OUT, "w") as f:
        f.write(
            "# PLANS — physical-plan review of the headline operators\n\n"
            "Generated by `tools/dump_plans.py` (sf0.001 inputs; plans are\n"
            "shape-identical at any SF — sizes only flip broadcast\n"
            "thresholds, which AQE re-plans at runtime). Each plan is the\n"
            "one we'd want at 100 TB; the plan-shape tests in\n"
            "`tests/test_plans_and_streaming.py` pin the load-bearing\n"
            "properties so regressions fail CI.\n"
        )
        for title, plan, note in sections:
            f.write(f"\n## {title}\n\n{note}\n\n```\n{plan}\n```\n")
    print(f"wrote {OUT}")
    spark.stop()


if __name__ == "__main__":
    main()
