"""HTTP redirect resolution for the crawl engine.

The reference's fetch path follows redirects transparently: its HTTP
client (`crawl4ai_client.py:75` — raise_for_status over a normal
requests/browser fetch) returns the FINAL page's content after the
301/302/307 chain, with the final address as the response url, and
raises after too many hops. A page-store engine must model that
explicitly: a redirect page is a store row whose ``redirect_to``
column carries the Location target (relative targets are legal — RFC
9110 §10.2.2 — and resolve against the redirecting url). Fetching
such a row walks the chain hop by hop, returns the FINAL page's html,
resolves the final page's links against the FINAL url (the base-url
rule every client applies after a redirect), and fails the fetch when
the chain exceeds ``max_hops`` (requests' ``TooManyRedirects``;
redirect loops hit the same cap — no separate cycle detector needed).

Scale shape: the redirect EDGE table (url → absolute target) is a
filter+project of the page store — a small fraction of rows —
materialized once per crawl. Per superstep, resolution is ``max_hops``
rounds of broadcast-INNER joins of the (tiny) still-redirecting batch
subset against the edge table: the store-scale side streams and never
shuffles, mirroring ``crawl.hit_miss_join``, and the
probe side shrinks every hop (most urls settle at hop 0). The
whole-store form (``final_destinations`` — redirect-aware url
canonicalization feeding ``webtext.url_dedup``) uses plain hash joins
instead (``broadcast_urls=False``): the mover set after hop 1 is
bounded by the redirect-page count, not the corpus.
"""

from __future__ import annotations

from typing import Optional

import pandas as pd

from pyspark.sql import DataFrame, functions as F, types as T


@F.pandas_udf(T.StringType())
def _urljoin_udf(base: pd.Series, href: pd.Series) -> pd.Series:
    """Arrow-batched RFC 3986 join — relative Location targets resolve
    against the redirecting url exactly like a browser's."""
    from urllib.parse import urljoin

    return pd.Series(
        [
            urljoin(b, h) if (h is not None and h != "") else None
            for b, h in zip(base, href)
        ],
        dtype="object",
    )


def redirect_edges(
    pages: DataFrame,
    url_col: str = "url",
    target_col: str = "redirect_to",
) -> DataFrame:
    """(src, dst) redirect edges from the page store: rows whose
    ``redirect_to`` is set, with relative targets made absolute.
    Clients ignore a redirect response's body, so a row carrying BOTH
    html and ``redirect_to`` is an edge (the html never surfaces)."""
    e = pages.filter(
        F.col(target_col).isNotNull() & (F.length(target_col) > 0)
    ).select(F.col(url_col).alias("src"), F.col(target_col).alias("_t"))
    return e.select(
        "src", _urljoin_udf(F.col("src"), F.col("_t")).alias("dst")
    ).filter(F.col("dst").isNotNull())


def resolve_redirects(
    urls: DataFrame,
    edges: DataFrame,
    url_col: str = "url",
    max_hops: int = 5,
    broadcast_urls: bool = True,
) -> DataFrame:
    """Resolve each url's redirect chain against the edge table.

    Returns one row per distinct input url:
    ``(url, final_url, n_hops int, redirect_ok boolean)`` —
    ``redirect_ok=False`` means the chain was still pointing at a
    redirect page after ``max_hops`` (loop or over-long chain; the
    fetch must fail, matching requests' ``TooManyRedirects``).
    ``final_url`` is then the last hop reached (diagnostic, not
    fetchable content).

    ``broadcast_urls=True`` is the per-superstep form: every round
    broadcasts the still-redirecting subset and streams the edge table
    (never shuffled). Set ``False`` for corpus-scale inputs
    (:func:`final_destinations`) — plain hash joins, mover set bounded
    by the redirect-page count after the first round.
    """
    # broadcast only in the per-superstep form: there the url set (and
    # therefore every mover/settled subset derived from it) is
    # batch-bounded. In the whole-store form the hop-1 mover set is
    # the FULL redirect-page population — plain hash joins only.
    def _bc(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if broadcast_urls else df

    cur = (
        urls.select(F.col(url_col).alias("url"))
        .distinct()
        .select(
            "url",
            F.col("url").alias("final_url"),
            F.lit(0).alias("n_hops"),
        )
    )
    e = edges.select(F.col("src").alias("_rs"), F.col("dst").alias("_rd"))
    if not broadcast_urls:
        # ---- whole-store form (r6 rewrite, guide §2.4 "remove
        # shuffles outright") ----------------------------------------
        # The previous shape kept an explicit settled/mover split: per
        # hop one INNER join (movers) + one ANTI join (settled) + a
        # final (max_hops+1)-way union — ~2·max_hops joins, each union
        # branch re-planning the whole mover chain AND re-running the
        # edge derivation (store scan + urljoin Arrow kernel).
        #
        # A row that settles is simply a LEFT-join MISS, and a settled
        # row's final_url has no outgoing edge BY DEFINITION, so
        # re-probing it in later hops is a guaranteed miss that changes
        # nothing. The chain therefore collapses to max_hops LEFT
        # joins over ONE linear plan — no anti-joins, no union — plus
        # one final LEFT probe for redirect_ok (ok ⟺ the final url has
        # no outgoing edge, the same NOT EXISTS property as before).
        # Output rows are identical: a row that stops moving at hop k
        # keeps (final_url, n_hops=k) through every later hop.
        #
        # The edge table is materialized ONCE (it is probed in every
        # hop; a small fraction of the store by construction), so the
        # urljoin kernel runs one pass instead of max_hops+1.
        e = e.localCheckpoint(eager=True)
        moved = F.col("_rd").isNotNull()
        for _ in range(max_hops):
            cur = (
                cur.join(e, F.col("final_url") == F.col("_rs"), "left")
                .select(
                    "url",
                    F.coalesce(F.col("_rd"), F.col("final_url"))
                    .alias("final_url"),
                    (F.col("n_hops") + moved.cast("int")).alias("n_hops"),
                )
            )
        # the probe side is the DISTINCT src set: a failed chain whose
        # final url has several outgoing edges (duplicate-src rows,
        # e.g. two store snapshots of one redirect page) still yields
        # one row per input url
        return (
            cur.join(e.select("_rs").distinct(),
                     F.col("final_url") == F.col("_rs"), "left")
            .select(
                "url", "final_url", "n_hops",
                F.col("_rs").isNull().alias("redirect_ok"),
            )
        )
    settled_parts = []
    for _ in range(max_hops):
        movers = (
            _bc(cur).join(e, F.col("final_url") == F.col("_rs"), "inner")
            .select(
                "url",
                F.col("_rd").alias("final_url"),
                (F.col("n_hops") + 1).alias("n_hops"),
            )
        )
        mover_keys = movers.select(F.col("url").alias("_mk"))
        settled_parts.append(
            cur.join(
                _bc(mover_keys),
                F.col("url") == F.col("_mk"),
                "left_anti",
            )
        )
        cur = movers
    # final settlement check: rows that used exactly max_hops hops and
    # LANDED on a non-redirect page are ok (requests allows exactly
    # max_redirects hops); only rows still pointing at another
    # redirect fail. So redirect_ok ⟺ the final url has no outgoing
    # edge — the exact property a SQL NOT EXISTS mirror checks.
    still_moving = _bc(cur).join(
        e, F.col("final_url") == F.col("_rs"), "inner"
    ).select(F.col("url").alias("_mk"))
    settled_parts.append(
        cur.join(
            _bc(still_moving), F.col("url") == F.col("_mk"),
            "left_anti",
        )
    )
    out = None
    for part in settled_parts:
        out = part if out is None else out.unionByName(part)
    out = out.withColumn("redirect_ok", F.lit(True))
    # whatever still points at a redirect page after max_hops rounds:
    # loop or over-long chain
    failed = cur.join(
        _bc(still_moving.withColumnRenamed("_mk", "url")),
        "url",
        "left_semi",
    )
    return out.unionByName(failed.withColumn("redirect_ok", F.lit(False)))


def final_destinations(
    pages: DataFrame,
    url_col: str = "url",
    target_col: str = "redirect_to",
    max_hops: int = 5,
) -> DataFrame:
    """url → final_url over the WHOLE store — redirect-aware url
    canonicalization (the crawl-level analogue of rel=canonical:
    compose with ``webtext.url_dedup`` by mapping urls to their final
    destination first, so a page reachable via 301 aliases dedups to
    one identity)."""
    return resolve_redirects(
        pages.select(F.col(url_col).alias("url")),
        redirect_edges(pages, url_col=url_col, target_col=target_col),
        max_hops=max_hops,
        broadcast_urls=False,
    )
