"""All engine StructTypes (SURVEY.md §1.1)."""

from __future__ import annotations

from pyspark.sql import types as T

# Common-Crawl-style page store (BASELINE.json input_hint).
PAGES = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

LINK = T.StructType(
    [
        T.StructField("url", T.StringType(), True),
        T.StructField("pos", T.IntegerType(), True),
    ]
)

# extract_udf output — CrawlResult analogue (`crawl4ai_client.py:33-52`)
# plus the ordered link list discovered from the pruned main content.
EXTRACTED = T.StructType(
    [
        T.StructField("title", T.StringType(), True),
        T.StructField("description", T.StringType(), True),
        T.StructField("keywords", T.ArrayType(T.StringType()), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("markdown", T.StringType(), True),
        T.StructField("cleaned_html", T.StringType(), True),
        T.StructField("links", T.ArrayType(LINK), True),
        # robots meta directives + rel=nofollow anchors (additive —
        # the reference ignores them; consumed by
        # CrawlEngine(honor_meta_robots=True))
        T.StructField("robots_noindex", T.BooleanType(), True),
        T.StructField("robots_nofollow", T.BooleanType(), True),
        T.StructField("nofollow_links", T.ArrayType(T.StringType()), True),
    ]
)

SEEN = T.StructType(
    [
        T.StructField("job_id", T.StringType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("ord", T.LongType(), False),
        T.StructField("depth", T.IntegerType(), True),
    ]
)

CRAWLED = T.StructType(
    [
        T.StructField("job_id", T.StringType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("ord", T.LongType(), False),
        T.StructField("depth", T.IntegerType(), True),
        T.StructField("fetch_ord", T.LongType(), True),
        T.StructField("success", T.BooleanType(), False),
        T.StructField("title", T.StringType(), True),
        T.StructField("description", T.StringType(), True),
        T.StructField("keywords", T.ArrayType(T.StringType()), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("markdown", T.StringType(), True),
        T.StructField("content", T.StringType(), True),
        T.StructField("superstep", T.IntegerType(), True),
    ]
)

# Per-job crawl state (CrawlEngine keeps it driver-side and commits it
# with every catalog superstep). max_depth -1 = no depth cap.
JOB_STATE = T.StructType(
    [
        T.StructField("job_id", T.StringType(), True),
        T.StructField("budget_used", T.LongType(), True),
        T.StructField("next_ord", T.LongType(), True),
        T.StructField("max_urls", T.LongType(), True),
        T.StructField("max_depth", T.IntegerType(), True),
        T.StructField("base_domain", T.StringType(), True),
    ]
)

METRICS = T.StructType(
    [
        T.StructField("superstep", T.IntegerType(), False),
        T.StructField("job_id", T.StringType(), True),
        T.StructField("reg_domain", T.StringType(), True),
        T.StructField("fetched", T.LongType(), True),
        T.StructField("parsed", T.LongType(), True),
        T.StructField("failed", T.LongType(), True),
        T.StructField("links_found", T.LongType(), True),
        T.StructField("enqueued", T.LongType(), True),
        T.StructField("bytes", T.LongType(), True),
        T.StructField("secs", T.DoubleType(), True),
    ]
)

# Seeder URL record (SURVEY §1.1) — head_data struct.
HEAD_DATA = T.StructType(
    [
        T.StructField("title", T.StringType(), True),
        T.StructField("charset", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("jsonld", T.ArrayType(T.StringType()), True),
    ]
)

SEEDER_RECORD = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("status", T.StringType(), True),
        T.StructField("relevance_score", T.DoubleType(), True),
        T.StructField("head_data", HEAD_DATA, True),
    ]
)

# DomainKnowledge (`models.py:21-26`).
CONCEPT = T.StructType(
    [
        T.StructField("name", T.StringType(), False),
        T.StructField("description", T.StringType(), True),
        T.StructField("related_concepts", T.ArrayType(T.StringType()), True),
        T.StructField("importance_score", T.DoubleType(), True),
    ]
)
TERMINOLOGY = T.StructType(
    [
        T.StructField("term", T.StringType(), False),
        T.StructField("definition", T.StringType(), True),
        T.StructField("context", T.StringType(), True),
        T.StructField("examples", T.ArrayType(T.StringType()), True),
    ]
)
INSIGHT = T.StructType(
    [
        T.StructField("content", T.StringType(), False),
        T.StructField("topics", T.ArrayType(T.StringType()), True),
        T.StructField("confidence", T.DoubleType(), True),
    ]
)
DOMAIN_KNOWLEDGE = T.StructType(
    [
        T.StructField("core_concepts", T.ArrayType(CONCEPT), True),
        T.StructField("terminology", T.ArrayType(TERMINOLOGY), True),
        T.StructField("key_insights", T.ArrayType(INSIGHT), True),
        T.StructField("source_url", T.StringType(), True),
        T.StructField("extraction_timestamp", T.TimestampType(), True),
    ]
)
