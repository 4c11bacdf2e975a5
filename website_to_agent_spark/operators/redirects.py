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
filter+project of the page store — a small fraction of rows. The chain
walk is ONE linear plan of ``max_hops`` plain LEFT hash joins against
it (no forced broadcasts: the mover set is bounded by the redirect-page
count, not the corpus). The crawl engine walks it once per crawl, over
the redirect sources only, and materializes that closure; each
superstep then attaches it to the drained batch with one
``crawl.hit_miss_join`` (the batch broadcast, the closure streamed).
The whole-store form (``final_destinations`` — redirect-aware url
canonicalization feeding ``webtext.url_dedup``) walks every store url.
"""

from __future__ import annotations

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
) -> DataFrame:
    """Resolve each url's redirect chain against the edge table.

    Returns one row per distinct input url:
    ``(url, final_url, n_hops int, redirect_ok boolean)`` —
    ``redirect_ok=False`` means the chain was still pointing at a
    redirect page after ``max_hops`` (loop or over-long chain; the
    fetch must fail, matching requests' ``TooManyRedirects``).
    ``final_url`` is then the last hop reached (diagnostic, not
    fetchable content).

    ``edges`` is probed once per hop: pass a materialized table when
    deriving it is costly (the store scan + urljoin kernel of
    :func:`redirect_edges`).
    """
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
    # A row that settles is simply a LEFT-join MISS, and a settled
    # row's final_url has no outgoing edge BY DEFINITION, so re-probing
    # it in later hops is a guaranteed miss that changes nothing. The
    # walk is therefore max_hops LEFT joins over ONE linear plan — no
    # anti-joins, no union — plus one final LEFT probe for redirect_ok.
    # A row that stops moving at hop k keeps (final_url, n_hops=k)
    # through every later hop.
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
    # rows that used exactly max_hops hops and LANDED on a non-redirect
    # page are ok (requests allows exactly max_redirects hops): ok ⟺
    # the final url has no outgoing edge — the NOT EXISTS property a
    # SQL mirror checks. The probe side is the DISTINCT src set: a
    # failed chain whose final url has several outgoing edges
    # (duplicate-src rows, e.g. two store snapshots of one redirect
    # page) still yields one row per input url.
    return (
        cur.join(e.select("_rs").distinct(),
                 F.col("final_url") == F.col("_rs"), "left")
        .select(
            "url", "final_url", "n_hops",
            F.col("_rs").isNull().alias("redirect_ok"),
        )
    )


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
    # the edge table is probed in every hop: materialize it once, so
    # the urljoin kernel runs one pass instead of max_hops+1
    edges = redirect_edges(
        pages, url_col=url_col, target_col=target_col
    ).localCheckpoint(eager=True)
    return resolve_redirects(
        pages.select(F.col(url_col).alias("url")), edges, max_hops=max_hops
    )
