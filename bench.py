"""Benchmark harness — one JSON line on stdout.

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` (default 32).

The flagship number is crawl-style extraction throughput: pages
(url, html binary) → extract_udf (title/text/markdown/links) —
the north-rule metric "URLs fetched+extracted per second". The pages
table is synthesized deterministically from the documents table
(BASELINE.json input_hint shape), replicated ``PAGES_MULT``× so the
executor pool saturates.

Scaling evidence (north rule, sandbox form): run this same script at
SPARK_GRAFT_CPUS=8 and =32 on the same input; BENCH/BASELINE.md holds
the recorded pair + efficiency. ``--scaling`` automates the pair run.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
PAGES_MULT = int(os.environ.get("SPARK_GRAFT_PAGES_MULT", "8"))


def _build_pages(spark, sf_dir: str, mult: int):
    """documents → pages(url, warc_ts, html binary, text, lang),
    ~10 KB realistic page bodies, replicated mult× with distinct urls."""
    from pyspark.sql import functions as F

    import __spark_entry__ as entry_mod

    base = entry_mod.pages_from_documents(
        spark, sf_dir, paragraphs=int(os.environ.get("SPARK_GRAFT_PARAS", "10"))
    )
    if mult <= 1:
        return base
    reps = spark.range(mult).select(F.col("id").alias("rep"))
    return (
        base.crossJoin(reps)
        .select(
            F.concat(F.lit("r"), F.col("rep"), F.lit("."), F.col("url")).alias("url"),
            "warc_ts", "html", "text", "lang",
        )
    )


def main() -> None:
    from pyspark.sql import functions as F

    import __spark_entry__ as entry_mod
    from website_to_agent_spark.functions.extract import extract_udf
    from website_to_agent_spark.operators import ann, bm25, dedupe
    from website_to_agent_spark.operators import textquality as tq
    from website_to_agent_spark.operators.crawl import CrawlEngine, CrawlJob
    from website_to_agent_spark.session import get_spark

    spark = get_spark(app_name="bench", cores=CPUS, shuffle_partitions=CPUS)

    timings: dict[str, float] = {}
    extras: dict = {}
    # self-report machine load so a contaminated run is visible in the
    # artifact itself (idle band ≈ load < 1; numbers swing ±50% loaded)
    t_wall0 = time.time()
    try:
        extras["loadavg_start"] = [round(x, 2) for x in os.getloadavg()]
    except OSError:
        pass

    def timed(name: str, fn):
        t0 = time.time()
        out = fn()
        timings[name] = round(time.time() - t0, 3)
        return out

    # -- corpus-scaling mode (r3 verdict ask #7): the selection/
    # curation layer is the most shuffle-heavy path — evidence ITS
    # north-rule pair, not just extraction's. Input: documents
    # replicated mult× as NEAR-duplicates (distinct ids, one-token
    # prefix variation), so exact dedup does NOT collapse them and
    # the near-dup banding carries a real mult-member-bucket load.
    if os.environ.get("SPARK_GRAFT_CORPUS_ONLY"):
        from website_to_agent_spark.operators import corpus as corpus_mod

        mult = PAGES_MULT
        base_docs = spark.read.parquet(
            f"{SF_DIR}/documents.parquet").select("doc_id", "text", "source")
        reps = spark.range(mult).select(F.col("id").alias("rep"))
        docs_big = (
            base_docs.crossJoin(reps)
            .select(
                (F.col("doc_id") * mult + F.col("rep")).alias("doc_id"),
                F.concat(F.lit("rep"), F.col("rep").cast("string"),
                         F.lit(" "), F.col("text")).alias("text"),
                "source",
            )
            .repartition(CPUS * 2)
            .localCheckpoint(eager=True)
        )
        n_docs = docs_big.count()
        bench_docs = base_docs.filter(F.col("doc_id") % 37 == 0).limit(50)

        def _corpus(docs_in):
            out, _ = corpus_mod.build_training_corpus(
                docs_in, domain_col="source", domain_cap=200 * mult,
                benchmark=bench_docs, splits={"train": .9, "val": .1},
                counts=False)
            return out.groupBy("split").count().collect()

        if os.environ.get("SPARK_GRAFT_WARMUP", "1") == "1":
            # warm-up compiles every stage's codegen + spins the Arrow
            # workers on the UNREPLICATED base — same plan shapes at
            # 1/mult of the work, so the timed run measures steady
            # state without doubling the child's wall clock
            _corpus(base_docs)
        timed("corpus_pipeline_scaled", lambda: _corpus(docs_big))
        extras["corpus_docs"] = n_docs
        extras["corpus_docs_per_sec"] = round(
            n_docs / timings["corpus_pipeline_scaled"], 1)
        try:
            extras["loadavg_end"] = [round(x, 2) for x in os.getloadavg()]
        except OSError:
            pass
        extras["wall_secs"] = round(time.time() - t_wall0, 1)
        print(json.dumps({
            "metric": "corpus_pipeline_scaled_seconds",
            "value": timings["corpus_pipeline_scaled"],
            "unit": "sec",
            "queries": timings,
            "sf": SF_DIR,
            "cpus": CPUS,
            "extras": extras,
        }))
        spark.stop()
        return

    # -- spans-scaling mode (r4): the newest shuffle-heavy operator —
    # repeated-span excision over a replicated corpus where EVERY row
    # shares a 16-token boilerplate tail, so the gram-digest window
    # carries a genuine mega-gram hot key (the operator's worst skew
    # shape, deliberately NOT pre-cleaned here).
    if os.environ.get("SPARK_GRAFT_SPANS_ONLY"):
        from website_to_agent_spark.operators import curation as cur_mod

        mult = PAGES_MULT
        base_docs = spark.read.parquet(
            f"{SF_DIR}/documents.parquet").select("doc_id", "text")
        reps = spark.range(mult).select(F.col("id").alias("rep"))
        tail = (" subscribe now for our free weekly newsletter digest"
                " with exclusive member only offers today")
        docs_big = (
            base_docs.crossJoin(reps)
            .select(
                (F.col("doc_id") * mult + F.col("rep")).alias("doc_id"),
                F.concat(F.lit("rep"), F.col("rep").cast("string"),
                         F.lit(" "), F.substring("text", 1, 600),
                         F.lit(tail)).alias("text"),
            )
            .repartition(CPUS * 2)
            .localCheckpoint(eager=True)
        )
        n_docs = docs_big.count()

        def _spans():
            return (
                cur_mod.remove_duplicate_spans(docs_big)
                .agg(F.sum("n_tokens_removed"), F.sum("n_spans_removed"))
                .collect()
            )

        if os.environ.get("SPARK_GRAFT_WARMUP", "1") == "1":
            cur_mod.remove_duplicate_spans(base_docs).agg(
                F.sum("n_tokens_removed")).collect()
        timed("dedup_spans_scaled", _spans)
        extras["spans_docs"] = n_docs
        extras["spans_docs_per_sec"] = round(
            n_docs / timings["dedup_spans_scaled"], 1)
        try:
            extras["loadavg_end"] = [round(x, 2) for x in os.getloadavg()]
        except OSError:
            pass
        extras["wall_secs"] = round(time.time() - t_wall0, 1)
        print(json.dumps({
            "metric": "dedup_spans_scaled_seconds",
            "value": timings["dedup_spans_scaled"],
            "unit": "sec",
            "queries": timings,
            "sf": SF_DIR,
            "cpus": CPUS,
            "extras": extras,
        }))
        spark.stop()
        return

    # -- index-scaling mode (r4-s3): inverted-index build over a
    # replicated corpus. Replica-unique "repN" tokens keep the term
    # space honest; max_df=0.05 is the honest at-scale configuration —
    # anything df>5% is a stopword whose postings STRING would be a
    # single-task mega-row (measured: at max_df=0.5 the ~15 surviving
    # 30-50%-df base terms each fold ~600k entries in one task and cap
    # speedup at ~2× regardless of input size; the module docstring's
    # contract is exactly this: high-df terms stay relational, the
    # string export is for bounded df). The measured work is the full
    # tokenize + (term,doc) partial-agg shuffle + prune + bounded fold.
    if os.environ.get("SPARK_GRAFT_INDEX_ONLY"):
        from website_to_agent_spark.operators import indexing as idx_mod

        mult = PAGES_MULT
        base_docs = spark.read.parquet(
            f"{SF_DIR}/documents.parquet").select("doc_id", "text")
        reps = spark.range(mult).select(F.col("id").alias("rep"))
        docs_big = (
            base_docs.crossJoin(reps)
            .select(
                (F.col("doc_id") * mult + F.col("rep")).alias("doc_id"),
                F.concat(F.lit("rep"), F.col("rep").cast("string"),
                         F.lit(" "), F.col("text")).alias("text"),
            )
            .repartition(CPUS * 2)
            .localCheckpoint(eager=True)
        )
        n_docs = docs_big.count()

        def _index():
            idx = idx_mod.inverted_index(docs_big, max_df=0.05)
            return idx.agg(F.count("*"), F.sum("cf")).collect()

        if os.environ.get("SPARK_GRAFT_WARMUP", "1") == "1":
            idx_mod.inverted_index(base_docs, max_df=0.05).agg(
                F.count("*")).collect()
        timed("inverted_index_scaled", _index)
        extras["index_docs"] = n_docs
        extras["index_docs_per_sec"] = round(
            n_docs / timings["inverted_index_scaled"], 1)
        try:
            extras["loadavg_end"] = [round(x, 2) for x in os.getloadavg()]
        except OSError:
            pass
        extras["wall_secs"] = round(time.time() - t_wall0, 1)
        print(json.dumps({
            "metric": "inverted_index_scaled_seconds",
            "value": timings["inverted_index_scaled"],
            "unit": "sec",
            "queries": timings,
            "sf": SF_DIR,
            "cpus": CPUS,
            "extras": extras,
        }))
        spark.stop()
        return

    # -- repetition-scaling mode (r5, r4 verdict ask #4): the Gopher
    # n-gram repetition metrics — the third-biggest suite row. One
    # posexplode of (n, xxhash64, len) structs + two doc-keyed slim
    # shuffles; the pair evidences that no corpus-wide hot key exists
    # (grams never leave their doc's rows).
    if os.environ.get("SPARK_GRAFT_REPETITION_ONLY"):
        from website_to_agent_spark.operators import webtext

        mult = PAGES_MULT
        base_docs = spark.read.parquet(
            f"{SF_DIR}/documents.parquet").select("doc_id", "text")
        reps = spark.range(mult).select(F.col("id").alias("rep"))
        docs_big = (
            base_docs.crossJoin(reps)
            .select(
                (F.col("doc_id") * mult + F.col("rep")).alias("doc_id"),
                F.concat(F.lit("rep"), F.col("rep").cast("string"),
                         F.lit(" "), F.col("text")).alias("text"),
            )
            .repartition(CPUS * 2)
            .localCheckpoint(eager=True)
        )
        n_docs = docs_big.count()

        def _rep(docs_in):
            return (
                webtext.gopher_repetition_ok(
                    webtext.repetition_metrics(docs_in))
                .agg(F.sum(F.col("repetition_ok").cast("long")))
                .collect()
            )

        if os.environ.get("SPARK_GRAFT_WARMUP", "1") == "1":
            _rep(base_docs)
        timed("repetition_metrics_scaled", lambda: _rep(docs_big))
        extras["repetition_docs"] = n_docs
        extras["repetition_docs_per_sec"] = round(
            n_docs / timings["repetition_metrics_scaled"], 1)
        try:
            extras["loadavg_end"] = [round(x, 2) for x in os.getloadavg()]
        except OSError:
            pass
        extras["wall_secs"] = round(time.time() - t_wall0, 1)
        print(json.dumps({
            "metric": "repetition_metrics_scaled_seconds",
            "value": timings["repetition_metrics_scaled"],
            "unit": "sec",
            "queries": timings,
            "sf": SF_DIR,
            "cpus": CPUS,
            "extras": extras,
        }))
        spark.stop()
        return

    # -- suffix-scaling mode (r5-s11): the distributed suffix-array
    # build (prefix doubling) over a replicated, rep-prefixed corpus.
    # Rep prefixes make every replica's text distinct, so suffix rows
    # grow linearly with mult while the ROUND COUNT (⌈log₂ longest
    # repeat⌉, a property of the base corpus) stays constant — pure
    # per-round throughput scaling of the join + range-exchange +
    # Arrow dense-rank dataflow.
    if os.environ.get("SPARK_GRAFT_SUFFIX_ONLY"):
        from website_to_agent_spark.operators import suffixes as sfx_mod

        mult = PAGES_MULT
        base_docs = (
            spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .filter(F.col("doc_id") % 10 == 0)
            .select("doc_id", "text")
        )
        reps = spark.range(mult).select(F.col("id").alias("rep"))
        docs_big = (
            base_docs.crossJoin(reps)
            .select(
                (F.col("doc_id") * mult + F.col("rep")).alias("doc_id"),
                F.concat(F.lit("rep"), F.col("rep").cast("string"),
                         F.lit(" "), F.col("text")).alias("text"),
            )
            .repartition(CPUS * 2)
            .localCheckpoint(eager=True)
        )
        n_chars = docs_big.agg(
            F.sum(F.length("text"))).first()[0]

        def _sa(docs_in):
            return sfx_mod.suffix_array(docs_in).count()

        if os.environ.get("SPARK_GRAFT_WARMUP", "1") == "1":
            _sa(base_docs.limit(50))
        timed("suffix_array_scaled", lambda: _sa(docs_big))
        extras["suffix_chars"] = int(n_chars)
        extras["suffix_chars_per_sec"] = round(
            n_chars / timings["suffix_array_scaled"], 1)
        try:
            extras["loadavg_end"] = [round(x, 2) for x in os.getloadavg()]
        except OSError:
            pass
        extras["wall_secs"] = round(time.time() - t_wall0, 1)
        print(json.dumps({
            "metric": "suffix_array_scaled_seconds",
            "value": timings["suffix_array_scaled"],
            "unit": "sec",
            "queries": timings,
            "sf": SF_DIR,
            "cpus": CPUS,
            "extras": extras,
        }))
        spark.stop()
        return

    # -- dust-scaling mode (r5-s8): DUST rule mining over a replicated
    # alias corpus — the Arrow span kernel (map-only) + the envelope-
    # keyed bucket shuffle + the (alpha, beta) support agg. Replicas
    # mint DISTINCT urls and digests, so instance rows, support
    # envelopes, and refuter buckets all grow linearly with mult while
    # the learned rule set stays constant — pure throughput scaling.
    if os.environ.get("SPARK_GRAFT_DUST_ONLY"):
        from website_to_agent_spark.operators import dust as dust_mod

        mult = PAGES_MULT
        base = spark.read.parquet(
            f"{SF_DIR}/documents.parquet").select("doc_id", "text")
        reps = spark.range(mult).select(F.col("id").alias("rep"))
        keyed = base.crossJoin(reps).select(
            (F.col("doc_id") * mult + F.col("rep")).alias("id"),
            F.md5(F.concat(F.col("text"),
                           F.col("rep").cast("string"))).alias("digest"),
        )

        def _urls(fmt):
            return keyed.select(
                F.format_string(fmt, F.col("id") % 2000,
                                F.col("id")).alias("url"),
                "digest",
            )

        pagesd = (
            _urls("https://site%d.example.com/art/%d/")
            .unionByName(
                _urls("https://site%d.example.com/art/%d/index.html"))
            .repartition(CPUS * 2)
            .localCheckpoint(eager=True)
        )
        n_urls = pagesd.count()

        def _dust(df):
            rules = dust_mod.dust_rules(df, max_bucket=64)
            return rules.agg(F.count("*"), F.sum("support")).collect()

        if os.environ.get("SPARK_GRAFT_WARMUP", "1") == "1":
            _dust(pagesd.limit(5000))
        timed("dust_rules_scaled", lambda: _dust(pagesd))
        extras["dust_urls"] = n_urls
        extras["dust_urls_per_sec"] = round(
            n_urls / timings["dust_rules_scaled"], 1)
        try:
            extras["loadavg_end"] = [round(x, 2) for x in os.getloadavg()]
        except OSError:
            pass
        extras["wall_secs"] = round(time.time() - t_wall0, 1)
        print(json.dumps({
            "metric": "dust_rules_scaled_seconds",
            "value": timings["dust_rules_scaled"],
            "unit": "sec",
            "queries": timings,
            "sf": SF_DIR,
            "cpus": CPUS,
            "extras": extras,
        }))
        spark.stop()
        return

    # -- trustrank-scaling mode (r5, r4 verdict ask #4): 6 personalized-
    # PageRank iterations over a deterministic power-law host graph
    # big enough that per-iteration join/agg work dominates the loop's
    # fixed checkpoint cost (at ≤2M edges the six-iteration wall clock
    # is scheduling-bound and a pair would measure overhead, not the
    # -- soft404-scaling mode (r5-s9): the probe-template classify
    # pass at mult×documents. 20% of hosts serve soft 404s and every
    # 7th of their pages IS the template, so the per-page SimHash agg
    # (the only shuffle — doc-keyed, map-side-combined 64-bit sums)
    # runs over exactly the probe-positive-host fifth of the corpus
    # while the probe lookup streams the full store broadcast-INNER.
    if os.environ.get("SPARK_GRAFT_SOFT404_ONLY"):
        from website_to_agent_spark.operators import soft404 as s4_mod

        mult = PAGES_MULT
        base = spark.read.parquet(
            f"{SF_DIR}/documents.parquet").select("doc_id", "text")
        reps = spark.range(mult).select(F.col("id").alias("rep"))
        keyed = base.crossJoin(reps).select(
            (F.col("doc_id") * mult + F.col("rep")).alias("id"),
            F.concat(F.col("text"), F.lit(" v"),
                     F.col("rep").cast("string")).alias("text"),
        )
        tmpl = ("page not found the requested document does not exist "
                "on this server please check the address or return to "
                "the home page and use the site search ") * 6
        host = F.format_string("host%d.example.com", F.col("id") % 2000)
        path = F.format_string("/p/%d", F.col("id"))
        soft_host = (F.col("id") % 2000) < 400
        is_tmpl = soft_host & (F.col("id") % 7 == 0)
        crawled = keyed.select(
            F.concat(F.lit("http://"), host, path).alias("url"),
            F.when(is_tmpl,
                   F.concat(F.lit(tmpl + " requested path "), path,
                            F.lit(" was not found")))
            .otherwise(F.col("text")).alias("text"),
        ).repartition(CPUS * 2).localCheckpoint(eager=True)
        n_pages = crawled.count()
        probes_store = s4_mod.probe_paths(
            keyed.filter(soft_host).select(host.alias("host"))
        ).select(
            F.col("probe_url").alias("url"),
            F.lit(tmpl + " requested path /probe was not found")
            .alias("text"),
        )
        store = crawled.unionByName(probes_store) \
            .localCheckpoint(eager=True)

        def _soft404(pages_df, store_df):
            probes = s4_mod.probe_signatures(store_df, text_col="text")
            flagged = s4_mod.classify_soft404(
                pages_df, probes, max_hamming=8)
            return flagged.filter(F.col("soft404")).count()

        if os.environ.get("SPARK_GRAFT_WARMUP", "1") == "1":
            _soft404(crawled.limit(5000), store.limit(5000))
        n_flagged = timed("soft404_scaled",
                          lambda: _soft404(crawled, store))
        extras["soft404_pages"] = n_pages
        extras["soft404_flagged"] = n_flagged
        extras["soft404_pages_per_sec"] = round(
            n_pages / timings["soft404_scaled"], 1)
        try:
            extras["loadavg_end"] = [round(x, 2) for x in os.getloadavg()]
        except OSError:
            pass
        extras["wall_secs"] = round(time.time() - t_wall0, 1)
        print(json.dumps({
            "metric": "soft404_scaled_seconds",
            "value": timings["soft404_scaled"],
            "unit": "sec",
            "queries": timings,
            "sf": SF_DIR,
            "cpus": CPUS,
            "extras": extras,
        }))
        spark.stop()
        return

    # operator — measured 12.6 s ≈ 12.8 s for 0.4M vs 1.3M edges).
    # Graph: mult·250k raw links over mult·2.5k src hosts with a
    # 2^U(0..18) power-law dst skew — heavy in-degree hubs like the
    # real web — collapsed by host_graph's groupBy to weighted edges.
    if os.environ.get("SPARK_GRAFT_TRUSTRANK_ONLY"):
        from website_to_agent_spark.operators import linkgraph

        mult = PAGES_MULT
        n_raw = mult * 250_000
        n_hosts = mult * 2_500
        edges = (
            spark.range(n_raw)
            .select(
                F.pmod(F.xxhash64("id"), F.lit(n_hosts)).alias("s"),
                F.pmod(
                    F.xxhash64("id", F.lit(1)),
                    F.pow(F.lit(2.0),
                          F.pmod(F.xxhash64("id", F.lit(2)), F.lit(18))
                          .cast("double")).cast("long") + 1,
                ).alias("d"),
            )
            .select(
                F.concat(F.lit("h"), F.col("s").cast("string"),
                         F.lit(".com")).alias("src_host"),
                F.concat(F.lit("h"), F.col("d").cast("string"),
                         F.lit(".com")).alias("dst_host"),
            )
            .groupBy("src_host", "dst_host")
            .agg(F.count("*").cast("double").alias("weight"))
            .repartition(CPUS * 2)
            .localCheckpoint(eager=True)
        )
        n_edges = edges.count()
        seeds = [f"h{i}.com" for i in range(20)]

        def _tr(iters):
            return linkgraph.trustrank(
                edges, seeds, iters=iters, src_col="src_host",
                dst_col="dst_host", weight_col="weight").count()

        if os.environ.get("SPARK_GRAFT_WARMUP", "1") == "1":
            _tr(1)          # compile the per-iteration plan shapes
        timed("trustrank_scaled", lambda: _tr(6))
        extras["trustrank_edges"] = n_edges
        extras["trustrank_edges_per_sec"] = round(
            n_edges * 6 / timings["trustrank_scaled"], 1)
        try:
            extras["loadavg_end"] = [round(x, 2) for x in os.getloadavg()]
        except OSError:
            pass
        extras["wall_secs"] = round(time.time() - t_wall0, 1)
        print(json.dumps({
            "metric": "trustrank_scaled_seconds",
            "value": timings["trustrank_scaled"],
            "unit": "sec",
            "queries": timings,
            "sf": SF_DIR,
            "cpus": CPUS,
            "extras": extras,
        }))
        spark.stop()
        return

    # -- salsa-scaling mode (r5-s7): 6 SALSA iterations over the same
    # deterministic power-law host graph as the trustrank pair. Per
    # iteration BOTH chains run: four edge-scale joins against the two
    # persisted orientations + four map-combined slim aggs — double
    # trustrank's per-iteration dataflow, same light-per-byte shuffle
    # class, so expect the same DRAM-bandwidth ceiling signature.
    if os.environ.get("SPARK_GRAFT_SALSA_ONLY"):
        from website_to_agent_spark.operators import linkgraph

        mult = PAGES_MULT
        n_raw = mult * 250_000
        n_hosts = mult * 2_500
        edges = (
            spark.range(n_raw)
            .select(
                F.pmod(F.xxhash64("id"), F.lit(n_hosts)).alias("s"),
                F.pmod(
                    F.xxhash64("id", F.lit(1)),
                    F.pow(F.lit(2.0),
                          F.pmod(F.xxhash64("id", F.lit(2)), F.lit(18))
                          .cast("double")).cast("long") + 1,
                ).alias("d"),
            )
            .select(
                F.concat(F.lit("h"), F.col("s").cast("string"),
                         F.lit(".com")).alias("src_host"),
                F.concat(F.lit("h"), F.col("d").cast("string"),
                         F.lit(".com")).alias("dst_host"),
            )
            .groupBy("src_host", "dst_host")
            .agg(F.count("*").cast("double").alias("weight"))
            .repartition(CPUS * 2)
            .localCheckpoint(eager=True)
        )
        n_edges = edges.count()

        def _sal(iters):
            return linkgraph.salsa(
                edges, iters=iters, src_col="src_host",
                dst_col="dst_host", weight_col="weight").count()

        if os.environ.get("SPARK_GRAFT_WARMUP", "1") == "1":
            _sal(1)         # compile the per-iteration plan shapes
        timed("salsa_scaled", lambda: _sal(6))
        extras["salsa_edges"] = n_edges
        extras["salsa_edges_per_sec"] = round(
            n_edges * 6 / timings["salsa_scaled"], 1)
        try:
            extras["loadavg_end"] = [round(x, 2) for x in os.getloadavg()]
        except OSError:
            pass
        extras["wall_secs"] = round(time.time() - t_wall0, 1)
        print(json.dumps({
            "metric": "salsa_scaled_seconds",
            "value": timings["salsa_scaled"],
            "unit": "sec",
            "queries": timings,
            "sf": SF_DIR,
            "cpus": CPUS,
            "extras": extras,
        }))
        spark.stop()
        return

    # -- hyperball-scaling mode (r5-s5): 4 fixed HyperBall rounds over
    # the same deterministic power-law host graph as the trustrank
    # pair. This is the heaviest per-edge dataflow in the repo — each
    # round moves one HLL sketch blob per edge through the union agg —
    # so the pair evidences sketch-shuffle scaling, not scheduling.
    if os.environ.get("SPARK_GRAFT_HYPERBALL_ONLY"):
        from website_to_agent_spark.operators import linkgraph

        mult = PAGES_MULT
        n_raw = mult * 250_000
        n_hosts = mult * 2_500
        edges = (
            spark.range(n_raw)
            .select(
                F.pmod(F.xxhash64("id"), F.lit(n_hosts)).alias("s"),
                F.pmod(
                    F.xxhash64("id", F.lit(1)),
                    F.pow(F.lit(2.0),
                          F.pmod(F.xxhash64("id", F.lit(2)), F.lit(18))
                          .cast("double")).cast("long") + 1,
                ).alias("d"),
            )
            .select(
                F.concat(F.lit("h"), F.col("s").cast("string"),
                         F.lit(".com")).alias("src"),
                F.concat(F.lit("h"), F.col("d").cast("string"),
                         F.lit(".com")).alias("dst"),
            )
            .distinct()
            .repartition(CPUS * 2)
            .localCheckpoint(eager=True)
        )
        n_edges = edges.count()

        def _hb(max_t):
            return linkgraph.hyperball(edges, max_t=max_t,
                                       lgk=10).count()

        if os.environ.get("SPARK_GRAFT_WARMUP", "1") == "1":
            _hb(1)          # compile the per-round plan shapes
        timed("hyperball_scaled", lambda: _hb(4))
        extras["hyperball_edges"] = n_edges
        extras["hyperball_edge_sketches_per_sec"] = round(
            n_edges * 4 / timings["hyperball_scaled"], 1)
        try:
            extras["loadavg_end"] = [round(x, 2) for x in os.getloadavg()]
        except OSError:
            pass
        extras["wall_secs"] = round(time.time() - t_wall0, 1)
        print(json.dumps({
            "metric": "hyperball_scaled_seconds",
            "value": timings["hyperball_scaled"],
            "unit": "sec",
            "queries": timings,
            "sf": SF_DIR,
            "cpus": CPUS,
            "extras": extras,
        }))
        spark.stop()
        return

    if os.environ.get("SPARK_GRAFT_TOKENPACK_ONLY"):
        # token-window packing at scale: documents × mult with
        # deterministic ~129-id arrays (~n_docs·130 ids through the
        # prefix-sum window + slice explode + window reassembly)
        from website_to_agent_spark.operators import sampling

        mult = PAGES_MULT
        base_docs = spark.read.parquet(
            f"{SF_DIR}/documents.parquet").select("doc_id")
        reps = spark.range(mult).select(F.col("id").alias("rep"))
        ids_big = (
            base_docs.crossJoin(reps)
            .select((F.col("doc_id") * mult + F.col("rep")).alias("doc_id"))
            .select(
                "doc_id",
                F.transform(
                    F.sequence(F.lit(0),
                               (F.col("doc_id") % 257).cast("int")),
                    lambda i: ((F.col("doc_id") + i) % 997).cast("int"),
                ).alias("ids"),
            )
            .repartition(CPUS * 2)
            .localCheckpoint(eager=True)
        )
        n_docs = ids_big.count()
        shards = CPUS * 4      # shards ≥ parallelism: the stated bound

        def _pack(d):
            return sampling.pack_token_windows(
                d, "doc_id", "ids", 2048, shards, eos_id=9999
            ).agg(F.sum("n_ids"), F.count("*")).collect()

        if os.environ.get("SPARK_GRAFT_WARMUP", "1") == "1":
            _pack(ids_big.limit(2000))
        timed("token_pack_scaled", lambda: _pack(ids_big))
        extras["token_pack_docs"] = n_docs
        extras["token_pack_docs_per_sec"] = round(
            n_docs / timings["token_pack_scaled"], 1)
        try:
            extras["loadavg_end"] = [round(x, 2) for x in os.getloadavg()]
        except OSError:
            pass
        extras["wall_secs"] = round(time.time() - t_wall0, 1)
        print(json.dumps({
            "metric": "token_pack_scaled_seconds",
            "value": timings["token_pack_scaled"],
            "unit": "sec",
            "queries": timings,
            "sf": SF_DIR,
            "cpus": CPUS,
            "extras": extras,
        }))
        spark.stop()
        return

    # -- flagship: extraction throughput over the pages store ---------
    pages = _build_pages(spark, SF_DIR, PAGES_MULT)
    pages = pages.repartition(CPUS * 2).localCheckpoint(eager=True)
    n_pages = pages.count()

    def _extract():
        out = pages.select(extract_udf(F.col("url"), F.col("html")).alias("e"))
        return out.select(
            F.sum(F.length("e.text")).alias("chars"),
            F.count("*").alias("n"),
        ).collect()

    # warm-up: one full untimed pass spins up every Python worker +
    # Arrow serde; the timed pass measures steady-state throughput
    if os.environ.get("SPARK_GRAFT_WARMUP", "1") == "1":
        _extract()

    timed("extract_pages", _extract)
    extras["pages_extracted"] = n_pages
    extras["urls_extracted_per_sec"] = round(n_pages / timings["extract_pages"], 1)

    if os.environ.get("SPARK_GRAFT_EXTRACT_ONLY"):
        try:
            extras["loadavg_end"] = [round(x, 2) for x in os.getloadavg()]
        except OSError:
            pass
        extras["wall_secs"] = round(time.time() - t_wall0, 1)
        print(json.dumps({
            "metric": "headline_suite_seconds",
            "value": round(sum(timings.values()), 3),
            "unit": "sec",
            "queries": timings,
            "sf": SF_DIR,
            "cpus": CPUS,
            "extras": extras,
        }))
        spark.stop()
        return

    # -- crawl engine: many jobs in one superstep loop -----------------
    docs_n = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    base_pages = entry_mod.pages_from_documents(spark, SF_DIR).localCheckpoint(
        eager=True
    )
    jobs = [
        CrawlJob(f"job{i}", f"https://docs.example.com/d/{(i * 37) % docs_n}.html",
                 max_urls=15)
        for i in range(16)
    ]

    def _crawl():
        res = CrawlEngine(spark, base_pages, mode="client").run(jobs)
        n = res.crawled.count()
        # free this run's superstep checkpoints so later queries aren't
        # measured under leftover executor-storage pressure
        res.unpersist()
        return n

    # warm-up (same rationale as the extraction warm-up above): one tiny
    # untimed crawl compiles the superstep plans' codegen and spins the
    # UDF workers; the timed run measures steady-state superstep cost —
    # the number that matters for a long-running production crawl.
    if os.environ.get("SPARK_GRAFT_WARMUP", "1") == "1":
        warm = CrawlEngine(spark, base_pages, mode="client").run(
            [CrawlJob("warm", "https://docs.example.com/d/0.html", max_urls=3)]
        )
        warm.crawled.count()
        warm.unpersist()

    crawled_rows = timed("crawl_16jobs", _crawl)
    extras["crawl_urls_fetched"] = crawled_rows
    extras["crawl_urls_per_sec"] = round(crawled_rows / timings["crawl_16jobs"], 1)

    # production-mode crawl: politeness (robots crawl-delay quotas) +
    # bloom prefilter on the seen anti-join — the scale-path config
    # (VERDICT r1 #10), benched next to parity mode.
    robots = spark.createDataFrame(
        [("docs.example.com", [], 0.005)],
        "host string, disallow array<string>, crawl_delay double",
    )

    def _crawl_prod():
        res = CrawlEngine(
            spark, base_pages, mode="client", robots=robots, use_bloom=True
        ).run(jobs)
        n = res.crawled.count()
        res.unpersist()
        return n

    # warm-up (same rationale as the parity-crawl warm-up): production
    # mode has its OWN plan shapes (bloom cogrouped fold, politeness
    # quota window) whose first run pays ~13 s of codegen + Arrow
    # worker spin-up that a long-running production crawl pays once —
    # measured: first-after-parity run 36.7 s, second 23.7 s on an
    # idle host. A 3-url production job compiles the same shapes.
    if os.environ.get("SPARK_GRAFT_WARMUP", "1") == "1":
        warmp = CrawlEngine(
            spark, base_pages, mode="client", robots=robots, use_bloom=True
        ).run([CrawlJob("warmp", "https://docs.example.com/d/0.html",
                        max_urls=3)])
        warmp.crawled.count()
        warmp.unpersist()

    prod_rows = timed("crawl_16jobs_production", _crawl_prod)
    extras["crawl_prod_urls_fetched"] = prod_rows
    extras["crawl_prod_urls_per_sec"] = round(
        prod_rows / timings["crawl_16jobs_production"], 1
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").localCheckpoint(True)
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").localCheckpoint(True)

    timed("bm25", lambda: bm25.bm25_rank(docs, "data table join fast", limit=20)
          .collect())
    timed("key_topics", lambda: tq.key_topics(docs, k=10).collect())
    timed("minhash_lsh", lambda: dedupe.minhash_lsh_pairs(
        docs, n_hashes=32, bands=8, threshold=0.7).count())
    timed("exact_dedup", lambda: dedupe.exact_duplicates(docs).count())

    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    timed("ann_cosine_topk", lambda: ann.cosine_topk(emb, queries, k=10).count())

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    timed("tpch_q1", lambda: entry_mod.q_tpch_pricing_summary(spark, SF_DIR).collect())
    timed("revenue_by_nation", lambda: entry_mod.q_revenue_by_nation(spark, SF_DIR)
          .collect())
    timed("quality_scores", lambda: docs.select(
        tq.quality_score(F.col("text")).alias("q")).agg(F.avg("q")).collect())

    # training-data hygiene ops (round 2)
    from website_to_agent_spark.operators import llm, webtext

    timed("pii_scrub", lambda: docs.select(
        webtext.pii_scrub(F.col("text")).alias("t"))
        .agg(F.sum(F.length("t"))).collect())
    timed("gopher_gate", lambda: docs.select(
        webtext.gopher_quality_ok(F.col("text")).alias("ok"))
        .agg(F.sum(F.col("ok").cast("long"))).collect())
    timed("repetition_metrics", lambda: webtext.gopher_repetition_ok(
        webtext.repetition_metrics(docs))
        .agg(F.sum(F.col("repetition_ok").cast("long"))).collect())
    timed("url_dedup", lambda: webtext.url_dedup_best(
        pages.select("url")).count())
    timed("llm_retry_stage", lambda: llm.llm_map(
        docs, llm.DeterministicEndpoint(max_chars=600),
        max_tokens_schedule=(100, 50)).count())

    # training-data selection layer (round 3)
    from website_to_agent_spark.operators import sampling

    timed("split_sample_pack", lambda: sampling.pack_sequences(
        sampling.split_by_hash(docs, "doc_id",
                               {"train": .8, "val": .1, "test": .1}),
        5000, "doc_id", F.length("text"), n_groups=32)
        .groupBy("split").agg(F.countDistinct("pack_group", "bin_id"))
        .collect())
    # r5-s10: Efraimidis–Spirakis weighted sampling, both shapes
    # (global TakeOrdered top-k + per-lang WindowGroupLimit top-k)
    timed("weighted_sample", lambda: (
        sampling.weighted_sample(docs, "doc_id", F.length("text"), 2000)
        .count(),
        sampling.weighted_sample(docs, "doc_id", F.length("text"), 500,
                                 strata_col="lang").count()))
    timed("lm_perplexity", lambda: webtext.lm_perplexity(
        docs, webtext.train_char_lm(docs.filter(F.col("lang") == "en")))
        .agg(F.avg("perplexity")).collect())
    from website_to_agent_spark.operators import curation

    timed("curation_pass", lambda: curation.decontaminate(
        curation.cap_per_domain(docs, "source", 200),
        docs.filter(F.col("doc_id") % 37 == 0))
        .filter("contaminated").count())

    # suffix-array-style repeated-span excision (r4): gram-digest
    # window election + interval merge + token reassembly
    timed("dedup_spans", lambda: curation.remove_duplicate_spans(
        docs.select("doc_id", "text"))
        .agg(F.sum("n_tokens_removed")).collect())

    # r5-s11: TRUE distributed suffix array + LCP (prefix doubling +
    # binary-lifting LCP) over the contract slice (doc_id % 50) —
    # ⌈log₂ maxdoclen⌉ doubling rounds of 2 jobs each, so at this
    # scale the row times the round-loop fixed cost (the throughput
    # story is the SUFFIX scaling pair in BENCH/BASELINE.md)
    timed("suffix_arrays", lambda: entry_mod.q_suffix_arrays(
        spark, SF_DIR).count())

    # the whole corpus pipeline in one lazy plan (counts=False): the
    # end-to-end shape a real training-data run executes
    from website_to_agent_spark.operators import corpus as corpus_mod

    timed("corpus_pipeline", lambda: corpus_mod.build_training_corpus(
        docs, domain_col="source", domain_cap=200,
        benchmark=docs.filter(F.col("doc_id") % 37 == 0).limit(50),
        splits={"train": .9, "val": .1}, counts=False)[0]
        .groupBy("split").count().collect())

    # link-graph + re-crawl layers (round 3): host PageRank (8 fixed
    # iterations over the page-edge collapse), component labeling
    # (8 rounds min-label propagation), staleness scheduling
    # warm-up (same rationale as extract/crawl): the first iterative-
    # loop run pays whole-stage codegen for every per-iteration plan;
    # steady-state is what a long-lived scheduler pays
    from website_to_agent_spark.operators import linkgraph as lg_mod

    if os.environ.get("SPARK_GRAFT_WARMUP", "1") == "1":
        entry_mod.q_pagerank_hosts(spark, SF_DIR).collect()
        entry_mod.q_connected_components(spark, SF_DIR).count()
    timed("linkgraph_pagerank", lambda: entry_mod.q_pagerank_hosts(
        spark, SF_DIR).collect())
    timed("linkgraph_components", lambda: entry_mod.q_connected_components(
        spark, SF_DIR).count())
    timed("recrawl_priorities", lambda: entry_mod.q_recrawl_priorities(
        spark, SF_DIR).count())
    timed("trustrank", lambda: entry_mod.q_trustrank_hosts(
        spark, SF_DIR).collect())
    # r5-s5: HyperBall harmonic centrality over the page-level edge
    # list (~n_docs nodes, 3 out-edges each) — per round one
    # edge⋈sketch join + one hll_union_agg; distance-truncated at 6
    # (standard practice; cost is rounds × fixed per-round dataflow)
    timed("harmonic_centrality", lambda: lg_mod.harmonic_centrality(
        entry_mod._doc_page_edges(spark, SF_DIR), max_t=6,
        lgk=11).count())

    # r5-s9: ANF rollup — one forward hyperball pass + the
    # ≤diameter-row neighborhood-function fold (interpolated effective
    # diameter, the crawl-depth budget number)
    def _anf():
        balls = lg_mod.hyperball(
            entry_mod._doc_page_edges(spark, SF_DIR), max_t=6, lgk=11)
        extras["effective_diameter_0.9"] = round(
            lg_mod.effective_diameter(balls, 0.9), 3)
        extras["avg_distance"] = round(lg_mod.avg_distance(balls), 3)
        return extras["effective_diameter_0.9"]

    timed("anf_rollup", _anf)
    # r5-s5: clamped-seed label propagation over the same edge list
    # (8 synchronous vote rounds, ~n_docs seeds on doc_id % 50 == 0)
    _lpa_edges = entry_mod._doc_page_edges(spark, SF_DIR)
    _lpa_seeds = _lpa_edges.select(F.col("src").alias("node")).distinct() \
        .filter(F.pmod(F.xxhash64("node"), F.lit(50)) < 2) \
        .select("node",
                F.pmod(F.xxhash64("node", F.lit(1)), F.lit(4))
                .cast("string").alias("label"))
    timed("label_propagation", lambda: lg_mod.label_propagation(
        _lpa_edges, _lpa_seeds, iters=8).count())
    # r5-s6: degree-oriented exact triangle counting + clustering
    # coefficient over the same edge list (three hash shuffles, no
    # iteration; the orientation bounds wedge fanout at O(sqrt m))
    timed("triangle_count", lambda: lg_mod.clustering_coefficient(
        entry_mod._doc_page_edges(spark, SF_DIR)).count())
    # r5-s6: k-core peel at k=4 — several shrinking rounds ending in
    # a NON-empty core on this graph (uniform out-degree 3,
    # quadratic-map in-degree; k=5 peels to empty at sf0.1, which
    # converges in fewer rounds and benches less of the loop)
    timed("k_core", lambda: lg_mod.k_core(
        entry_mod._doc_page_edges(spark, SF_DIR), 4).count())
    # r4-s3: frontier hygiene + index build over the full doc corpus
    timed("crawl_traps", lambda: entry_mod.q_crawl_traps(
        spark, SF_DIR).count())
    timed("inverted_index", lambda: entry_mod.q_inverted_index(
        spark, SF_DIR).count())
    timed("host_boilerplate", lambda: entry_mod.q_host_boilerplate(
        spark, SF_DIR).count())

    def _phrase():
        from website_to_agent_spark.operators import indexing as idx_mod

        rel_pos = idx_mod.postings_positional(docs)
        return idx_mod.phrase_docs(rel_pos, ["data", "table"]).count()

    timed("phrase_search", _phrase)

    # impact-pruned top-k serving (MaxScore/WAND): index + impacts
    # built once untimed (the build cost is the inverted_index row);
    # the timed row is the pruned query, with the full-scorer twin
    # recorded in extras so the pruning payoff is visible per-run
    from website_to_agent_spark.operators import indexing as idx_mod

    rel_srv = idx_mod.postings_relational(docs).localCheckpoint(eager=True)
    norms_srv = idx_mod.doc_norms(docs).localCheckpoint(eager=True)
    imp_srv = idx_mod.term_impacts(rel_srv, norms_srv).localCheckpoint(
        eager=True)
    timed("wand_search", lambda: idx_mod.search_pruned(
        rel_srv, norms_srv, "data table join fast", k=10,
        impacts=imp_srv).collect())
    _t0 = time.time()
    idx_mod.search(rel_srv, norms_srv, "data table join fast",
                   k=10).collect()
    extras["wand_full_search_s"] = round(time.time() - _t0, 3)
    for c in (rel_srv, norms_srv, imp_srv):
        c.unpersist()

    # DUST rule mining + frontier canonicalization: every doc page
    # also reachable at .../index.html (same digest); same-site pages
    # carry DIFFERENT digests, so the id-valued middles refute
    def _dust():
        from website_to_agent_spark.operators import dust as dust_mod

        d = docs.select("doc_id", F.md5(F.col("text")).alias("digest"))
        canon = d.select(
            F.format_string("https://site%d.example.com/art/%d/",
                            F.col("doc_id") % 50,
                            F.col("doc_id")).alias("url"),
            "digest",
        )
        alias = d.select(
            F.format_string(
                "https://site%d.example.com/art/%d/index.html",
                F.col("doc_id") % 50, F.col("doc_id")).alias("url"),
            "digest",
        )
        pagesd = canon.unionByName(alias)
        rules = dust_mod.dust_rules(pagesd)
        row = dust_mod.dust_savings(pagesd, rules).collect()[0]
        extras["dust_saved_fetches"] = int(row["saved_fetches"])
        return int(row["n_urls"])

    timed("dust_rules", _dust)

    # mirror-host detection over the same synthetic store: make 10 of
    # the 50 sites byte-mirrors of their neighbor (same digests), the
    # rest keep distinct content
    def _mirrors():
        from website_to_agent_spark.operators import mirrors as mir_mod

        d = docs.select("doc_id", F.md5(F.col("text")).alias("digest"))
        primary = d.select(
            F.format_string("https://host%d.example.com/p/%d",
                            F.col("doc_id") % 50,
                            F.col("doc_id")).alias("url"),
            "digest",
        )
        replica = d.filter((F.col("doc_id") % 50) < 10).select(
            F.format_string("https://mirror%d.example.net/p/%d",
                            F.col("doc_id") % 50,
                            F.col("doc_id")).alias("url"),
            "digest",
        )
        pairs = mir_mod.mirror_host_pairs(
            primary.unionByName(replica), min_shared=3, min_jaccard=0.5)
        n = pairs.count()
        extras["mirror_pairs"] = n
        return n

    timed("mirror_hosts", _mirrors)

    # soft-404 detection over the same synthetic store: 10 of the 50
    # hosts answer the nonexistent-url probe with an error template;
    # every 7th page on those hosts IS the template (url-echoing), the
    # rest keep their real text
    def _soft404():
        from website_to_agent_spark.operators import soft404 as s4_mod

        tmpl = ("page not found the requested document does not exist "
                "on this server please check the address or return to "
                "the home page and use the site search ") * 6
        host = F.format_string("host%d.example.com", F.col("doc_id") % 50)
        path = F.format_string("/p/%d", F.col("doc_id"))
        soft_host = (F.col("doc_id") % 50) < 10
        is_tmpl = soft_host & (F.col("doc_id") % 7 == 0)
        crawled = docs.select(
            F.concat(F.lit("http://"), host, path).alias("url"),
            F.when(is_tmpl,
                   F.concat(F.lit(tmpl + " requested path "), path,
                            F.lit(" was not found")))
            .otherwise(F.col("text")).alias("text"),
        )
        probes_store = s4_mod.probe_paths(
            docs.filter(soft_host).select(host.alias("host"))
        ).select(
            F.col("probe_url").alias("url"),
            F.lit(tmpl + " requested path /probe was not found")
            .alias("text"),
        )
        probes = s4_mod.probe_signatures(
            crawled.unionByName(probes_store), text_col="text")
        flagged = s4_mod.classify_soft404(
            crawled, probes, max_hamming=8)
        n = flagged.filter(F.col("soft404")).count()
        extras["soft404_flagged"] = n
        return n

    timed("soft404_pass", _soft404)

    # WARC ingest (Common Crawl's at-rest format): archive built once
    # untimed from the synthetic pages; the timed pass parses it back
    import tempfile

    from website_to_agent_spark.sources import warc as warc_mod

    warc_dir = tempfile.mkdtemp(prefix="bench_warc_")
    sample = entry_mod.pages_from_documents(spark, SF_DIR, paragraphs=10)
    records = [
        (r.url, "2025-01-01T00:00:00Z", 200, "text/html", bytes(r.html))
        for r in sample.select("url", "html").collect()
    ]
    # CC ships thousands of ~1 GB archives; binaryFile parallelism is
    # per-file, so the honest local shape is several archives
    n_archives = 8
    per = (len(records) + n_archives - 1) // n_archives
    warc_bytes = 0
    for i in range(n_archives):
        p = os.path.join(warc_dir, f"pages-{i}.warc.gz")
        warc_mod.write_warc(records[i * per:(i + 1) * per], p,
                            gzip_records=True)
        warc_bytes += os.path.getsize(p)

    def _warc():
        return warc_mod.warc_pages(spark, warc_dir).select(
            F.sum(F.length("html")).alias("b"), F.count("*").alias("n")
        ).collect()

    timed("warc_ingest", _warc)
    extras["warc_archive_mb"] = round(warc_bytes / 1e6, 1)
    extras["warc_pages"] = len(records)
    extras["warc_pages_per_sec"] = round(
        len(records) / timings["warc_ingest"], 1
    )

    # -- redirect canonicalization + 304 revalidation (r4-s6) ---------
    # whole-store redirect resolution: ~30% of urls redirect (chains
    # up to 4 hops down to the %10==0 anchors, 6↔7 loops), batch form
    # replaced by plain hash joins at corpus scale
    from website_to_agent_spark.operators import recrawl as recrawl_mod
    from website_to_agent_spark.operators import redirects as redirects_mod

    m10 = F.col("doc_id") % 10
    _rurl = F.format_string("https://r.example.com/p/%d.html",
                            F.col("doc_id"))
    redirect_store = docs.select(
        _rurl.alias("url"),
        F.when(m10.isin(1, 2, 3, 4),
               F.format_string("https://r.example.com/p/%d.html",
                               F.col("doc_id") - 1))
        .when(m10 == 6,
              F.format_string("https://r.example.com/p/%d.html",
                              F.col("doc_id") + 1))
        .when(m10 == 7,
              F.format_string("https://r.example.com/p/%d.html",
                              F.col("doc_id") - 1))
        .alias("redirect_to"),
    )

    def _redirects():
        return redirects_mod.final_destinations(redirect_store).count()

    timed("redirect_canonicalize", _redirects)

    # digest status pass over the page store (1% stale snapshots) —
    # the check every re-crawl runs before paying the parse kernel
    reval_snaps = base_pages.select(
        "url",
        F.when(F.xxhash64("url") % 100 == 0, F.lit("stale"))
        .otherwise(F.md5("html")).alias("digest"),
    )

    def _reval():
        return (
            recrawl_mod.revalidate(
                reval_snaps, base_pages.select("url", "html")
            )
            .groupBy("status").count().count()
        )

    timed("revalidate_pass", _reval)

    # -- r5 additions: fielded ranking, per-language CCNet, tokenize-
    # and-pack windows, WARC sink -------------------------------------
    fielded_docs = docs.select(
        "doc_id", F.col("text").alias("body"),
        F.substring("text", 1, 80).alias("title"),
        F.when(F.col("doc_id") % 7 == 0, F.lit("data table fast"))
        .otherwise(F.lit("")).alias("anchor"))
    timed("bm25f", lambda: bm25.bm25f_scores(
        fielded_docs, "data table join fast",
        fields={"body": 1.0, "title": 3.0, "anchor": 2.0},
        b={"body": 0.75, "title": 0.5, "anchor": 0.4})
        .agg(F.avg("score")).collect())

    timed("ccnet_by_lang", lambda: webtext.perplexity_buckets_by_lang(
        docs, webtext.train_char_lms(docs))
        .groupBy("lang", "bucket").count().collect())

    # CCNet step 1 (r5-s4): trained n-gram language ID — every doc
    # scored under every language's LM via one broadcast gram join
    timed("lang_id", lambda: webtext.detect_language(
        docs, webtext.train_char_lms(docs))
        .groupBy("lang").count().collect())

    # token-window packing over deterministic id arrays (~129 ids/doc):
    # this row times the PACKING dataflow (prefix-sum window + slice
    # explode + window reassembly), not a tokenizer
    ids_docs = docs.select(
        "doc_id",
        F.transform(
            F.sequence(F.lit(0), (F.col("doc_id") % 257).cast("int")),
            lambda i: ((F.col("doc_id") + i) % 997).cast("int"),
        ).alias("ids"))
    timed("token_pack", lambda: sampling.pack_token_windows(
        ids_docs, "doc_id", "ids", 2048, 32, eos_id=9999)
        .agg(F.sum("n_ids"), F.count("*")).collect())

    # mergeable sketch layer (r5): per-source HLL build + global
    # rollup, a theta-sketch snapshot overlap, and the CMS build +
    # heavy-hitter audit over the exploded token stream — the
    # incremental corpus-statistics path (sketches, never re-scans)
    from website_to_agent_spark.operators import sketches

    def _sketches():
        hll = sketches.hll_rollup(
            sketches.hll_sketches(docs, ["text", "lang"],
                                  group_cols=["source"]),
            ["text", "lang"]).collect()
        half_a = docs.filter(F.col("doc_id") % 3 != 0)
        half_b = docs.filter(F.col("doc_id") % 2 != 0)
        ov = sketches.theta_overlap(
            sketches.theta_sketches(half_a, ["doc_id"]),
            sketches.theta_sketches(half_b, ["doc_id"]),
            "doc_id").collect()
        toks = docs.select(F.explode(
            F.split(F.lower("text"), "[^a-z0-9]+")).alias("term")
        ).filter(F.col("term") != "")
        cms = sketches.cms_table(toks, "term", depth=4, width=1024)
        hh = sketches.heavy_hitters(toks, "term", 0.005, cms=cms,
                                    depth=4, width=1024).collect()
        return hll[0].text_distinct, ov[0].n_union, len(hh)

    extras["sketch_stats"] = timed("sketch_stats", _sketches)

    # distributed WARC writer (the inverse of warc_ingest): the whole
    # page store → 8 CC-layout .warc.gz shards, deterministic bytes
    warc_sink_dir = tempfile.mkdtemp(prefix="bench_warc_sink_")

    def _warc_sink():
        return warc_mod.warc_sink(
            base_pages.select(
                "url", F.lit("2025-01-01T00:00:00Z").alias("warc_ts"),
                F.lit(200).alias("status_code"),
                F.lit("text/html").alias("content_type"), "html"),
            warc_sink_dir, n_shards=8, mode="overwrite",
        ).agg(F.sum("n_records")).collect()[0][0]

    extras["warc_sink_pages"] = timed("warc_sink", _warc_sink)

    total = round(sum(timings.values()), 3)
    try:
        extras["loadavg_end"] = [round(x, 2) for x in os.getloadavg()]
    except OSError:
        pass
    extras["wall_secs"] = round(time.time() - t_wall0, 1)
    print(json.dumps({
        "metric": "headline_suite_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": SF_DIR,
        "cpus": CPUS,
        "extras": extras,
    }))
    spark.stop()


def _hw_ceiling_work(n):
    """CPU-bound unit task for the hardware-ceiling control (module
    level: multiprocessing must pickle it into the worker procs)."""
    import hashlib

    acc = 0
    for i in range(n):
        acc ^= int.from_bytes(
            hashlib.md5(b"x%d" % i).digest()[:4], "little"
        )
    return acc


def _hw_ceiling(levels, tasks_mult: int = 2, n_iter: int = 400_000,
                repeats: int = 2) -> dict:
    """Hardware-scaling control: an embarrassingly parallel, zero-
    coordination CPU-bound job (hash loop) run through multiprocessing
    at the same parallelism levels. On an SMT host, N logical cores ≠
    N physical cores — e.g. 8→32 workers measures ~3.0× here, not 4×,
    because 32 logical threads share 16 physical cores. No engine can
    scale past what the silicon gives an ideal job, so the engine's
    efficiency is reported both raw and relative to this ceiling."""
    import multiprocessing as mp

    _work = _hw_ceiling_work
    best: dict[int, float] = {}
    hi = max(levels)
    for _ in range(repeats):
        for procs in levels:
            tasks = hi * tasks_mult  # same total work at every level
            with mp.Pool(procs) as p:
                t0 = time.time()
                p.map(_work, [n_iter] * tasks)
                dt = time.time() - t0
            best[procs] = min(best.get(procs, 1e18), dt)
    lo = min(levels)
    return {
        "control_t_lo": round(best[lo], 3),
        "control_t_hi": round(best[hi], 3),
        "control_speedup": round(best[lo] / best[hi], 3),
        "control_efficiency": round(best[lo] / best[hi] / (hi / lo), 3),
    }


def scaling() -> None:
    """Run the extraction job at two parallelism levels (north-rule
    evidence) and print both + efficiency.

    Repeats each level ``SPARK_GRAFT_SCALING_REPEATS`` times
    (interleaved lo,hi,lo,hi,... so drift hits both levels equally) and
    scores efficiency from the per-level MINIMUM wall time — the
    standard estimator on a noisy shared host, since contention only
    ever ADDS time. Levels come from ``SPARK_GRAFT_SCALING_LEVELS``
    (default "8,32"; "4,16" stays on physical cores on this 16-core
    SMT host). A multiprocessing control (``_hw_ceiling``) measures
    what the hardware itself gives an ideal zero-coordination job at
    the same levels; efficiency is reported raw AND relative to that
    ceiling. Every individual run (with its self-reported loadavg) is
    included in the JSON for audit."""
    import subprocess

    levels = tuple(
        int(x) for x in os.environ.get(
            "SPARK_GRAFT_SCALING_LEVELS", "8,32").split(",")
    )
    # job selection: "extract" (the flagship fetch+extract path) or
    # "corpus" (build_training_corpus, the shuffle-heavy curation path
    # — r3 verdict ask #7). The corpus default mult is smaller because
    # its near-dup input multiplies pair work, not just row count.
    job = os.environ.get("SPARK_GRAFT_SCALING_JOB", "extract")
    if job == "corpus":
        qkey, flag, default_mult = (
            "corpus_pipeline_scaled", "SPARK_GRAFT_CORPUS_ONLY", "16")
    elif job == "spans":
        qkey, flag, default_mult = (
            "dedup_spans_scaled", "SPARK_GRAFT_SPANS_ONLY", "24")
    elif job == "index":
        qkey, flag, default_mult = (
            "inverted_index_scaled", "SPARK_GRAFT_INDEX_ONLY", "96")
    elif job == "repetition":
        qkey, flag, default_mult = (
            "repetition_metrics_scaled", "SPARK_GRAFT_REPETITION_ONLY",
            "96")
    elif job == "trustrank":
        qkey, flag, default_mult = (
            "trustrank_scaled", "SPARK_GRAFT_TRUSTRANK_ONLY", "96")
    elif job == "tokenpack":
        qkey, flag, default_mult = (
            "token_pack_scaled", "SPARK_GRAFT_TOKENPACK_ONLY", "96")
    elif job == "hyperball":
        qkey, flag, default_mult = (
            "hyperball_scaled", "SPARK_GRAFT_HYPERBALL_ONLY", "12")
    elif job == "salsa":
        qkey, flag, default_mult = (
            "salsa_scaled", "SPARK_GRAFT_SALSA_ONLY", "96")
    elif job == "dust":
        qkey, flag, default_mult = (
            "dust_rules_scaled", "SPARK_GRAFT_DUST_ONLY", "24")
    elif job == "soft404":
        qkey, flag, default_mult = (
            "soft404_scaled", "SPARK_GRAFT_SOFT404_ONLY", "96")
    elif job == "suffix":
        qkey, flag, default_mult = (
            "suffix_array_scaled", "SPARK_GRAFT_SUFFIX_ONLY", "8")
    else:
        qkey, flag, default_mult = (
            "extract_pages", "SPARK_GRAFT_EXTRACT_ONLY", "96")
    lo_lvl, hi_lvl = min(levels), max(levels)
    repeats = int(os.environ.get("SPARK_GRAFT_SCALING_REPEATS", "2"))
    runs: dict[int, list] = {lo_lvl: [], hi_lvl: []}
    for _ in range(repeats):
        for cpus in (lo_lvl, hi_lvl):
            env = dict(
                os.environ,
                SPARK_GRAFT_CPUS=str(cpus),
                # large enough that per-row work dominates fixed overhead
                SPARK_GRAFT_PAGES_MULT=os.environ.get(
                    "SPARK_GRAFT_SCALING_MULT", default_mult
                ),
            )
            env[flag] = "1"
            out = subprocess.run(
                [sys.executable, os.path.abspath(__file__)],
                env=env, capture_output=True, text=True, timeout=3600,
            )
            lines = [l for l in out.stdout.splitlines()
                     if l.startswith("{")]
            if not lines:
                # a child died (OOM/transient): surface its tail and
                # keep going — min-of-level scoring tolerates a lost run
                sys.stderr.write(
                    f"[scaling] child local[{cpus}] produced no JSON "
                    f"(rc={out.returncode}); stderr tail:\n"
                    + "\n".join(out.stderr.splitlines()[-15:]) + "\n"
                )
                continue
            runs[cpus].append(json.loads(lines[-1]))
    for lvl in (lo_lvl, hi_lvl):
        if not runs[lvl]:
            raise RuntimeError(
                f"every local[{lvl}] child failed — stderr tails above")
    best_lo = min(runs[lo_lvl], key=lambda r: r["queries"][qkey])
    best_hi = min(runs[hi_lvl], key=lambda r: r["queries"][qkey])
    t_lo = best_lo["queries"][qkey]
    t_hi = best_hi["queries"][qkey]
    eff = (t_lo / t_hi) / (hi_lvl / lo_lvl)
    ceiling = _hw_ceiling((lo_lvl, hi_lvl))
    out = {
        "job": job,
        "levels": [lo_lvl, hi_lvl],
        f"t_local{lo_lvl}_sec": t_lo,
        f"t_local{hi_lvl}_sec": t_hi,
        "speedup": round(t_lo / t_hi, 3),
        "scaling_efficiency": round(eff, 3),
        "efficiency_vs_hw_ceiling": round(
            (t_lo / t_hi) / ceiling["control_speedup"], 3
        ),
        f"rows_per_sec_{lo_lvl}": next(
            (best_lo["extras"][k] for k in (
                "urls_extracted_per_sec", "corpus_docs_per_sec",
                "spans_docs_per_sec", "index_docs_per_sec",
                "repetition_docs_per_sec", "trustrank_edges_per_sec",
                "salsa_edges_per_sec", "dust_urls_per_sec")
             if k in best_lo["extras"]), None),
        f"rows_per_sec_{hi_lvl}": next(
            (best_hi["extras"][k] for k in (
                "urls_extracted_per_sec", "corpus_docs_per_sec",
                "spans_docs_per_sec", "index_docs_per_sec",
                "repetition_docs_per_sec", "trustrank_edges_per_sec",
                "salsa_edges_per_sec", "dust_urls_per_sec")
             if k in best_hi["extras"]), None),
        "repeats": repeats,
        f"all_runs_{lo_lvl}": [r["queries"][qkey] for r in runs[lo_lvl]],
        f"all_runs_{hi_lvl}": [r["queries"][qkey] for r in runs[hi_lvl]],
        **ceiling,
        "full_lo": best_lo,
        "full_hi": best_hi,
    }
    print(json.dumps(out, indent=2))


if __name__ == "__main__":
    if "--scaling" in sys.argv:
        scaling()
    else:
        main()
