"""Soft-404 detection — find hosts that answer nonexistent URLs with
HTTP 200 and an error *page*, then flag the crawled pages that ARE
that error page (Bar-Yossef, Broder, Kumar & Tomkins, "Sic Transit
Gloria Telae: Towards an Understanding of the Web's Decay", WWW'04
§3 — public paper, independent implementation).

Why a crawler cares: a soft-404 host poisons every downstream layer —
dead links "fetch fine" so the frontier keeps following them, the
corpus fills with thousands of near-identical "Page not found"
documents (which then dominate near-dup clusters and per-host
boilerplate), and change detection sees a real page "change into" the
error template instead of going away. The reference trusts fetch
success entirely (`crawl4ai_client.py` records success iff the HTTP
request returned — no content check), so it archives soft 404s as
content.

The paper's method, re-expressed on the page-store model:

1. **Probe**: for each host, derive ONE deterministic URL that almost
   surely does not exist (a long random-looking token path). Fetch it.
   A host where the probe FAILS returns honest hard 404s — done, its
   pages are never flagged. A host where the probe SUCCEEDS serves
   soft 404s; its probe *content* is the learned error template.
2. **Classify**: a fetched page on a probe-positive host is a
   soft-404 iff its content is (near-)identical to that host's probe
   page. Near-identity matters — real error templates echo the
   requested URL/path into the page, so byte equality alone misses
   them. The paper uses shingle similarity at a near-1 threshold;
   here the check is exact digest equality OR SimHash Hamming
   distance ≤ ``max_hamming`` (the same fingerprint
   ``dedupe.simhash`` computes for near-dup mining, so the md5
   fingerprint family stays byte-reproducible in any engine).

Scale shape — the expensive side never moves:

- ``probe_signatures``: the probe table is HOST-granular. The store
  lookup is a broadcast-INNER join (probes broadcast, the corpus-
  scale store streamed and never shuffled — the
  ``crawl.hit_miss_join`` pattern); text extraction runs the existing Arrow kernel on ≤hosts
  rows; the signature is one host-keyed SimHash agg.
- ``classify_soft404``: per-page SimHash is the library's explode +
  64-conditional-sum agg keyed by doc id (map-side combined); the
  probe join is host-keyed and broadcast-sized. No corpus×corpus
  joins, no iteration, no new Python.

Determinism: the probe path is md5(host, token) — no RNG, no clock —
so re-runs, retries, and the DuckDB oracle see the same probes.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, functions as F

from website_to_agent_spark.functions import urlfns
from website_to_agent_spark.operators.dedupe import simhash

DEFAULT_TOKEN = "soft404-probe"


def probe_paths(hosts: DataFrame, token: str = DEFAULT_TOKEN,
                host_col: str = "host") -> DataFrame:
    """(host, probe_url) — one deterministic almost-surely-nonexistent
    URL per host: ``http://<host>/<md5(host:token)>-<token>``. 128
    hash bits make an accidental collision with a real path
    negligible; the trailing token keeps the path self-describing in
    server logs (the paper's operational courtesy)."""
    h = F.lower(F.col(host_col))
    return hosts.select(h.alias("host")).distinct().select(
        "host",
        F.concat(
            F.lit("http://"), F.col("host"), F.lit("/"),
            F.md5(F.concat(F.col("host"), F.lit(":" + token))),
            F.lit("-" + token),
        ).alias("probe_url"),
    )


def probe_signatures(pages: DataFrame,
                     hosts: Optional[DataFrame] = None,
                     url_col: str = "url", html_col: str = "html",
                     text_col: Optional[str] = None,
                     token: str = DEFAULT_TOKEN,
                     hash_fn: str = "xxhash64") -> DataFrame:
    """Run the probe pass against a page store: (host, probe_digest,
    probe_simhash) for every host that ANSWERED its probe — the
    soft-404-serving hosts. Hosts whose probe misses the store (an
    honest 404) produce no row.

    ``hosts`` defaults to every host in the store. ``text_col`` set:
    the store already carries extracted text; unset: text comes from
    the same Arrow extraction kernel the crawl uses (``html_col`` is
    raw bytes), so probe text and crawled-page text are compared
    like-for-like."""
    if hosts is None:
        hosts = pages.select(
            F.lower(urlfns.netloc(F.col(url_col))).alias("host"))
    probes = probe_paths(hosts, token=token, host_col="host")
    hits = F.broadcast(probes).join(
        pages, probes.probe_url == F.col(url_col), "inner")
    if text_col is None:
        from website_to_agent_spark.functions.extract import extract_udf

        hits = hits.withColumn(
            "_t", extract_udf(F.col("probe_url"), F.col(html_col))["text"])
    else:
        hits = hits.withColumn("_t", F.col(text_col))
    # exactly ONE row per host however many snapshot copies of the
    # probe url the store holds (max = deterministic pick; a classify
    # join against duplicate probe rows would fan the corpus out).
    # r6: materialize the host-granular result (≤ |probe-positive
    # hosts| rows by construction) — the digest projection and the
    # fingerprint pass below would otherwise each re-stream the page
    # store through the probe join; and the fingerprint itself is the
    # map-only simhash_append kernel (NULL for token-less probe text —
    # exactly the row the old aggregate-form LEFT join left NULL).
    hits = (
        hits.groupBy("host").agg(F.max("_t").alias("_t"))
        .localCheckpoint(eager=True)
    )
    from website_to_agent_spark.operators.dedupe import simhash_append

    return simhash_append(
        hits, text_col="_t", out_col="probe_simhash", hash_fn=hash_fn,
    ).select(
        "host", F.md5(F.col("_t")).alias("probe_digest"), "probe_simhash"
    )


def classify_soft404(docs: DataFrame, probes: DataFrame,
                     id_col: str = "url", url_col: str = "url",
                     text_col: str = "text", max_hamming: int = 3,
                     hash_fn: str = "xxhash64") -> DataFrame:
    """Adds ``soft404`` (bool) and ``probe_hamming`` (long, null off
    probe-positive hosts): the page sits on a soft-404-serving host
    AND its text is the host's error template — exact digest match OR
    SimHash Hamming ≤ ``max_hamming`` (URL-echoing templates differ
    by a few tokens, never by many). ``hash_fn`` must match the one
    ``probe_signatures`` ran with.

    Join shape: one broadcast join against the host-granular probe
    table FIRST splits the corpus — pages on healthy hosts take a
    map-only branch (constant false, no fingerprint, NO shuffle), and
    only the probe-positive-host pages pay the per-doc SimHash agg
    and its id-keyed join-back. Most of the web is healthy hosts;
    attaching the fingerprint through one corpus-wide id join instead
    would Exchange+Sort the FULL corpus with its text column — the
    plan this branch structure exists to avoid."""
    keyed = docs.withColumn(
        "_h", F.lower(urlfns.netloc(F.col(url_col))))
    j = keyed.join(
        F.broadcast(probes.withColumnRenamed("host", "_h")), "_h", "left")
    cand = j.filter(F.col("probe_digest").isNotNull())
    # r6: the fingerprint is appended IN PLACE by the map-only
    # simhash_append kernel — the old aggregate simhash + id-keyed
    # join-back re-planned the candidate subtree on both join sides
    # and Exchanged the text-bearing rows twice; now the candidate
    # branch stays a single map-only pipeline (NULL fingerprint for
    # token-less text, exactly what the old LEFT join produced)
    from website_to_agent_spark.operators.dedupe import simhash_append

    cand = simhash_append(cand, text_col=text_col, out_col="_sh",
                          hash_fn=hash_fn)
    hamming = F.bit_count(
        F.col("_sh").bitwiseXOR(F.col("probe_simhash")))
    # null-safe: probe row present but either side unfingerprintable →
    # the digest branch alone decides
    flagged = (
        cand.withColumn("probe_hamming", hamming)
        .withColumn(
            "soft404",
            F.coalesce(
                (F.md5(F.col(text_col)) == F.col("probe_digest"))
                | (F.col("probe_hamming") <= F.lit(int(max_hamming))),
                F.lit(False),
            ),
        )
        .drop("_h", "_sh", "probe_digest", "probe_simhash")
    )
    healthy = (
        j.filter(F.col("probe_digest").isNull())
        .withColumn("probe_hamming", F.lit(None).cast("long"))
        .withColumn("soft404", F.lit(False))
        .drop("_h", "probe_digest", "probe_simhash")
    )
    return flagged.unionByName(healthy)


def drop_soft404(docs: DataFrame, probes: DataFrame,
                 id_col: str = "url", url_col: str = "url",
                 text_col: str = "text", max_hamming: int = 3,
                 hash_fn: str = "xxhash64") -> DataFrame:
    """Corpus hygiene form: ``docs`` minus its soft-404 rows (original
    columns preserved). Pages on healthy hosts pass untouched."""
    flagged = classify_soft404(
        docs, probes, id_col=id_col, url_col=url_col, text_col=text_col,
        max_hamming=max_hamming, hash_fn=hash_fn)
    return flagged.filter(~F.col("soft404")).drop(
        "soft404", "probe_hamming")
