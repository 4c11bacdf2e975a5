"""Performance-contract (plan shape) and streaming-twin tests."""

import os

import pytest
from pyspark.sql import functions as F

from website_to_agent_spark import fixtures, plans
from website_to_agent_spark.streaming import crawl_stream

SF_DIR = "/root/testdata/sf0.001"


def test_filter_pushdown_and_pruning(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    q = docs.filter(F.col("doc_id") < 10).select("doc_id", "n_chars")
    pushed = plans.pushed_filters(q)
    assert any("doc_id" in p for p in pushed), pushed
    schemas = plans.read_schema_columns(q)
    assert schemas and set(schemas[0]) <= {"doc_id", "n_chars"}, schemas


@pytest.mark.parametrize("user", ["fetch", "fetch_following", "snapshots"])
def test_frontier_pages_fetch_join_is_broadcast(spark, pages_df, site, user):
    """Every user of the engine's hit/miss join must stream the big
    side and broadcast the frontier batch — a sort-merge fallback here
    would shuffle the whole page store (or snapshot table) every
    superstep. Hit and miss rows both come back."""
    from website_to_agent_spark.operators import recrawl
    from website_to_agent_spark.operators.crawl import CrawlEngine

    seed, missing = site.seeds[0], "https://missing/x"
    frontier = spark.createDataFrame(
        [("j", seed, 0, 0), ("j", missing, 0, 1)],
        "job_id string, url string, depth int, ord long",
    )
    pages = pages_df.select("url", "html").withColumnRenamed("url", "p_url")
    hit_col = "success"
    if user == "fetch":
        fetched = CrawlEngine._fetch(frontier, pages)
    elif user == "fetch_following":
        # the seed is fetched through a 301 alias; the missing url's
        # chain ends on a url the store lacks
        alias = "https://alias.example/seed"
        store = fixtures.pages_rows_to_spark(spark, site.rows + [
            fixtures.redirect_row(alias, seed),
            fixtures.redirect_row(missing, "https://missing/none"),
        ])
        frontier = frontier.unionByName(spark.createDataFrame(
            [("j", alias, 0, 2)], frontier.schema))
        closure = CrawlEngine._redirect_closure(store)
        fetched = CrawlEngine._fetch_following(
            CrawlEngine._attach_redirects(frontier, closure), pages)
    else:
        crawled = spark.createDataFrame(
            [(seed, True, "t", None, [], "x", "x", "x")],
            "url string, success boolean, title string, description string,"
            " keywords array<string>, text string, markdown string,"
            " content string",
        )
        # a stored snapshot table, as a re-crawl reads it
        snap = CrawlEngine._snapshot_columns(
            recrawl.crawl_snapshots(crawled, pages_df).localCheckpoint())
        fetched = CrawlEngine._attach_snapshots(
            CrawlEngine._fetch(frontier, pages), snap)
        hit_col = "_snap_digest"
    assert plans.has_broadcast_join(fetched)
    plan = plans.explain_str(fetched)
    assert "SortMergeJoin" not in plan
    rows = {(r.url, r[hit_col] not in (None, False)) for r in fetched.collect()}
    assert (seed, True) in rows
    assert (missing, False) in rows
    if user == "fetch_following":
        assert ("https://alias.example/seed", True) in rows


def test_bm25_no_python_udf(spark):
    from website_to_agent_spark.operators import bm25

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = plans.explain_str(bm25.bm25_scores(docs, "data table"))
    # pure column math — no Python evaluation nodes
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_streaming_extract(spark, site, tmp_path):
    src = str(tmp_path / "pages_in")
    out = str(tmp_path / "pages_out")
    ckpt = str(tmp_path / "ckpt")
    fixtures.write_pages_parquet(spark, site.rows[:30], src)

    stream = crawl_stream.read_pages_stream(spark, src)
    extracted = crawl_stream.extract_stream(stream)
    q = crawl_stream.run_to_parquet(extracted, out, ckpt, once=True)
    q.awaitTermination(120)

    got = spark.read.parquet(out)
    assert got.count() == 30
    # byte-identity holds on the streaming path too
    joined = got.alias("g").join(
        fixtures.pages_rows_to_spark(spark, site.rows[:30]).alias("p"), "url"
    )
    assert joined.filter(F.col("g.text") != F.col("p.text")).count() == 0


def test_streaming_windowed_metrics(spark, site, tmp_path):
    src = str(tmp_path / "pages_in2")
    fixtures.write_pages_parquet(spark, site.rows[:20], src)
    stream = crawl_stream.read_pages_stream(spark, src)
    metrics = crawl_stream.windowed_metrics(crawl_stream.extract_stream(stream))
    q = (
        metrics.writeStream.outputMode("complete")
        .format("memory")
        .queryName("m_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT sum(parsed) AS p FROM m_out").first()
    assert rows.p == 20


def test_streaming_stateful_seen_dedup(spark, site, tmp_path):
    """applyInPandasWithState URL-seen dedup: state persists across
    micro-batches — duplicates arriving in a later batch are suppressed."""
    from website_to_agent_spark.streaming import stateful

    src = str(tmp_path / "dedup_in")
    os.makedirs(src)
    # two single-file drops with a 5-url overlap → two micro-batches
    fixtures.pages_rows_to_spark(spark, site.rows[:10]).coalesce(1).write.parquet(
        src + "/b1"
    )
    fixtures.pages_rows_to_spark(spark, site.rows[5:15]).coalesce(1).write.parquet(
        src + "/b2"
    )
    import glob, shutil

    flat = []
    for i, f in enumerate(sorted(glob.glob(src + "/b*/part-*.parquet"))):
        dst = f"{src}/{i:02d}.parquet"
        shutil.move(f, dst)
        flat.append(dst)
    assert len(flat) == 2
    shutil.rmtree(src + "/b1"), shutil.rmtree(src + "/b2")

    stream = (
        spark.readStream.format("parquet")
        .schema(fixtures.pages_rows_to_spark(spark, site.rows[:1]).schema)
        .option("maxFilesPerTrigger", 1)
        .load(src)
    )
    deduped = stateful.streaming_seen_dedup(stream)
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .option("checkpointLocation", str(tmp_path / "dedup_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT url FROM dedup_out").collect()
    urls = [r.url for r in got]
    expect = {r["url"] for r in site.rows[:15]}
    assert len(urls) == len(expect) == len(set(urls))
    assert set(urls) == expect


def test_streaming_polite_admit_budget(spark, site, tmp_path):
    """Per-host per-trigger admission budget (streaming politeness)."""
    from website_to_agent_spark.streaming import stateful

    src = str(tmp_path / "admit_in")
    fixtures.write_pages_parquet(spark, site.rows[:20], src)
    stream = (
        spark.readStream.format("parquet")
        .schema(fixtures.pages_rows_to_spark(spark, site.rows[:1]).schema)
        .load(src)
    )
    admitted = stateful.streaming_polite_admit(stream, per_batch=3)
    q = (
        admitted.writeStream.outputMode("append")
        .format("memory")
        .queryName("admit_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    per_host = spark.sql(
        "SELECT host, count(*) AS n FROM admit_out GROUP BY host"
    ).collect()
    assert per_host and all(r.n <= 3 for r in per_host)


def test_dedupe_and_ann_stay_jvm_side(spark):
    """The whole dedup/ANN/text-analysis family is pure column math —
    no Python evaluation nodes anywhere in the physical plans, so
    whole-stage codegen covers the hot path at 100 TB."""
    from website_to_agent_spark.operators import ann, dedupe
    from website_to_agent_spark.operators import textquality as tq

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(50)
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").limit(50)
    queries = emb.limit(3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    dim = len(emb.first().embedding)

    from website_to_agent_spark.operators import curation

    targets = {
        "minhash": dedupe.minhash_lsh_pairs(docs),
        "span_dedup": curation.remove_duplicate_spans(
            docs.select("doc_id", "text")),
        "simhash": dedupe.simhash_near_pairs(docs),
        "ngram_jaccard": dedupe.ngram_jaccard_pairs(docs),
        "ann_cosine": ann.cosine_topk(emb, queries, k=3),
        "ann_lsh": ann.lsh_topk(emb, queries, dim=dim, k=3),
        "ann_ivf": ann.ivf_topk(emb, queries, dim=dim, k=3),
        "near_dups": ann.embedding_near_dups(emb, threshold=0.8),
        "lang_id": docs.select(tq.lang_id(F.col("text")).alias("l")),
        "quality": docs.select(tq.quality_score(F.col("text")).alias("q")),
    }
    for name, df in targets.items():
        plan = plans.explain_str(df)
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name
        assert "FlatMapGroupsInPandas" not in plan, name


def test_ann_query_side_is_broadcast(spark):
    """Scoring a small query set against a huge corpus must broadcast
    the queries, never shuffle the corpus."""
    from website_to_agent_spark.operators import ann

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.limit(3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    df = ann.cosine_topk(emb, queries, k=3)
    plan = plans.explain_str(df)
    # cross join with no equi-keys → BroadcastNestedLoopJoin building
    # the (tiny) query side; the corpus scan is streamed, never shuffled
    assert "BroadcastNestedLoopJoin" in plan and "BuildRight" in plan, plan
    assert "SortMergeJoin" not in plan


def test_ann_plans_ship_planes_as_data_not_literals(spark):
    """Hyperplanes and centroids travel as broadcast DATA (a one-row
    array column / a small table), never as n_bits x dim plan literals:
    the plan text stays small and dim-independent even at dim=512
    (literal planes would put ~8k floats in the plan)."""
    from website_to_agent_spark.operators import ann

    rows = [(i, [float((i * j) % 7) - 3.0 for j in range(512)])
            for i in range(20)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = emb.limit(2).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    lsh_plan = plans.explain_str(ann.lsh_topk(emb, queries, dim=512, k=3, n_bits=16))
    ivf_plan = plans.explain_str(ann.ivf_topk(emb, queries, dim=512, k=3, n_centroids=8))
    assert len(lsh_plan) < 50_000, len(lsh_plan)
    assert len(ivf_plan) < 50_000, len(ivf_plan)


def test_streaming_webtext_hygiene_pipeline(spark, site, tmp_path):
    """The training-data hygiene ops (PII scrub + Gopher gate +
    canonical URL) are stateless Column exprs, so they run unchanged in
    a Structured Streaming micro-batch pipeline: stream pages ->
    extract -> scrub -> gate -> sink, results equal the batch run."""
    from website_to_agent_spark.functions import urlfns
    from website_to_agent_spark.operators import webtext
    from website_to_agent_spark.streaming import crawl_stream

    src = str(tmp_path / "pages_in")
    out = str(tmp_path / "clean_out")
    ckpt = str(tmp_path / "ckpt")
    fixtures.write_pages_parquet(spark, site.rows[:20], src)

    def hygiene(df):
        return df.select(
            urlfns.canonical_url(F.col("url")).alias("canon_url"),
            webtext.pii_scrub(F.col("text")).alias("clean_text"),
            webtext.gopher_quality_ok(F.col("text")).alias("quality_ok"),
        )

    stream = crawl_stream.extract_stream(
        crawl_stream.read_pages_stream(spark, src)
    )
    q = crawl_stream.run_to_parquet(hygiene(stream), out, ckpt, once=True)
    q.awaitTermination(120)

    got = {r.canon_url: r for r in spark.read.parquet(out).collect()}
    batch = {r.canon_url: r for r in hygiene(
        crawl_stream.extract_stream(
            fixtures.pages_rows_to_spark(spark, site.rows[:20]))).collect()}
    assert len(got) == 20
    assert got.keys() == batch.keys()
    for k in got:
        assert got[k].clean_text == batch[k].clean_text
        assert got[k].quality_ok == batch[k].quality_ok


def test_new_layers_no_python_eval_and_broadcasts(spark):
    """Round-3 layers stay JVM-side: linkgraph/recrawl/corpus plans
    contain no BatchEvalPython; the RFC robots filter and the priority
    score join ride BroadcastHashJoins."""
    from datetime import datetime

    from website_to_agent_spark import plans
    from website_to_agent_spark.operators import linkgraph, recrawl
    from website_to_agent_spark.operators.politeness import robots_filter
    from website_to_agent_spark.sources import robotsfetch as rf

    edges = spark.createDataFrame(
        [("a", "b", 1), ("b", "c", 2)], "src string, dst string, w long")
    nodes = edges.selectExpr("src as node").union(
        edges.selectExpr("dst as node")).distinct()
    outw = edges.groupBy("src").agg(F.sum("w").alias("wout"))
    e = edges.join(outw, "src")
    ranks = nodes.selectExpr("node", "0.5 as r")
    step = linkgraph.pagerank_step(nodes, e, outw, ranks, 3, 0.85, 12)
    plan = plans.explain_str(step)
    assert "BatchEvalPython" not in plan
    assert "HashAggregate" in plan          # map-side partial contribs

    deg = linkgraph.degrees(edges)
    assert "BatchEvalPython" not in plans.explain_str(deg)

    snaps = spark.createDataFrame(
        [("u", datetime(2024, 1, 1), "d")],
        "url string, ts timestamp, digest string")
    pr = recrawl.revisit_priority(
        recrawl.change_rate(recrawl.mark_changes(snaps)),
        datetime(2024, 1, 2))
    assert "BatchEvalPython" not in plans.explain_str(pr)

    rules = [rf.compile_robots_rule(p) + (a,) for p, a in
             [("/x*", False), ("/", True)]]
    robots = spark.createDataFrame(
        [("h.test", ["/x"], None, [], rules)], rf.ROBOTS)
    frontier = spark.createDataFrame(
        [("https://h.test/a",)], "url string")
    filt = robots_filter(frontier, robots)
    fplan = plans.explain_str(filt)
    assert "BatchEvalPython" not in fplan
    assert "BroadcastHashJoin" in fplan or "BroadcastNestedLoopJoin" in fplan


def test_streaming_trap_guard_caps_templates(spark, tmp_path):
    """Cumulative per-(host, template) cap across micro-batches: the
    calendar template admits exactly trap_max_urls urls over TWO
    triggers (state carries the count), healthy urls all pass."""
    from datetime import datetime

    from website_to_agent_spark.streaming import stateful

    ts = datetime(2025, 1, 1)
    rows1 = [(f"https://t.com/cal?day={i}", ts) for i in range(4)] + [
        ("https://t.com/about.html", ts)]
    rows2 = [(f"https://t.com/cal?day={i}", ts) for i in range(4, 9)] + [
        ("https://t.com/docs.html", ts)]
    src = str(tmp_path / "trap_in")
    schema_str = "url string, warc_ts timestamp"
    spark.createDataFrame(rows1, schema_str).coalesce(1).write.parquet(
        src + "/b1")
    spark.createDataFrame(rows2, schema_str).coalesce(1).write.parquet(
        src + "/b2")
    import glob, shutil
    for i, f in enumerate(sorted(glob.glob(src + "/b*/part-*.parquet"))):
        shutil.move(f, f"{src}/{i:02d}.parquet")
    shutil.rmtree(src + "/b1"), shutil.rmtree(src + "/b2")

    stream = (
        spark.readStream.format("parquet")
        .schema(schema_str)
        .option("maxFilesPerTrigger", 1)
        .load(src)
    )
    guarded = stateful.streaming_trap_guard(stream, trap_max_urls=6)
    q = (
        guarded.writeStream.outputMode("append")
        .format("memory")
        .queryName("trap_out")
        .option("checkpointLocation", str(tmp_path / "trap_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    urls = [r.url for r in spark.sql("SELECT url FROM trap_out").collect()]
    cal = sorted(u for u in urls if "/cal?" in u)
    # EXACT cap: the first 6 calendar urls in arrival order, 7-9 dropped
    assert cal == [f"https://t.com/cal?day={i}" for i in range(6)]
    assert "https://t.com/about.html" in urls
    assert "https://t.com/docs.html" in urls
    assert len(urls) == 8
