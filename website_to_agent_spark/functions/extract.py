"""Arrow-batched extraction kernels (SURVEY §2.9).

``extract_udf`` is the vectorized twin of the reference's
`SimpleScraper.scrape_url` parse path (`crawl4ai_client.py:80-140`) —
one pandas batch in, one struct column out. The per-page logic lives in
the shared pure-Python kernel ``website_to_agent_spark.extraction`` so
the distributed path and the sequential oracle execute identical code.

No per-row Python UDFs anywhere (input_hint requirement): these are
pandas UDFs over Arrow batches.
"""

from __future__ import annotations

from typing import Optional

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import pandas_udf

from website_to_agent_spark import extraction, schema


import codecs
import re as _re

# meta charset declarations, scanned over the first 2 KB of raw bytes
# (the HTML5 prescan window). Two accepted shapes only — the charset
# ATTRIBUTE (first attribute of the meta, the overwhelmingly common
# authoring) and the `; charset=` Content-Type form — so prose that
# merely MENTIONS "charset=x" inside an unrelated attribute value
# (e.g. a description) cannot hijack the decode.
_CHARSET_RE = _re.compile(
    rb'(?:<meta\s+charset|;\s*charset)\s*=\s*["\']?\s*([a-zA-Z0-9_\-]+)',
    _re.I,
)
_BOMS = (
    (codecs.BOM_UTF8, "utf-8-sig"),
    (codecs.BOM_UTF16_LE, "utf-16-le"),
    (codecs.BOM_UTF16_BE, "utf-16-be"),
)


def _decode(b) -> str:
    """Charset-aware html decode, the role requests/bs4 play for the
    reference: BOM first (HTML5 precedence), then the meta-declared
    charset from the 2 KB prescan window, then UTF-8. A declared-but-
    unknown or mis-declared charset falls back to UTF-8 with
    replacement — a crawler must never fail on a lying page."""
    if b is None:
        return ""
    if not isinstance(b, (bytes, bytearray)):
        return str(b)
    raw = bytes(b)
    for bom, codec in _BOMS:
        if raw.startswith(bom):
            try:
                return raw.decode(codec, errors="replace")
            except LookupError:  # pragma: no cover
                break
    m = _CHARSET_RE.search(raw[:2048])
    if m:
        name = m.group(1).decode("ascii", errors="replace").lower()
        if name not in ("utf-8", "utf8"):
            try:
                return raw.decode(name, errors="replace")
            except LookupError:
                pass
    return raw.decode("utf-8", errors="replace")


@pandas_udf(schema.EXTRACTED)
def extract_udf(url: pd.Series, html: pd.Series) -> pd.DataFrame:
    """(url, html binary) → struct<title, description, keywords, text,
    markdown, cleaned_html, links array<struct<url,pos>>>."""
    out = {k: [] for k in ("title", "description", "keywords", "text",
                           "markdown", "cleaned_html", "links",
                           "robots_noindex", "robots_nofollow",
                           "nofollow_links")}
    for u, h in zip(url, html):
        rec = extraction.extract_page(_decode(h), u or "")
        out["title"].append(rec["title"])
        out["description"].append(rec["description"])
        out["keywords"].append(rec["keywords"])
        out["text"].append(rec["text"])
        out["markdown"].append(rec["markdown"])
        out["cleaned_html"].append(rec["cleaned_html"])
        out["links"].append(
            [{"url": lu, "pos": pos} for lu, pos in rec["links"]]
        )
        out["robots_noindex"].append(rec["robots_noindex"])
        out["robots_nofollow"].append(rec["robots_nofollow"])
        out["nofollow_links"].append(rec["nofollow_links"])
    return pd.DataFrame(out)


_SEEDER_META = schema.T.StructType(
    [
        schema.T.StructField("links", schema.T.ArrayType(schema.LINK), True),
        schema.T.StructField("robots_nofollow", schema.T.BooleanType(), True),
        schema.T.StructField("robots_noindex", schema.T.BooleanType(), True),
        schema.T.StructField(
            "nofollow_links",
            schema.T.ArrayType(schema.T.StringType()), True,
        ),
    ]
)


@pandas_udf(_SEEDER_META)
def seeder_links_meta_udf(html: pd.Series, url: pd.Series) -> pd.DataFrame:
    """Full-document link extraction, seeder semantics
    (`url_seeder.py:143-174`: href stripped, empty/#-prefixed skipped,
    urljoin applied), plus the robots directives from the same parse
    (extraction.seeder_links_meta) — the one seeder link kernel. Its
    ``links`` equal ``extraction.seeder_links``; callers that ignore
    robots meta read only ``links``. Validity filters (F1-F6) are
    Column predicates in ``operators.filters`` so Catalyst can push
    them."""
    out = {"links": [], "robots_nofollow": [], "robots_noindex": [],
           "nofollow_links": []}
    for h, u in zip(html, url):
        rec = extraction.seeder_links_meta(_decode(h), u or "")
        out["links"].append(
            [{"url": lu, "pos": pos} for lu, pos in rec["links"]]
        )
        out["robots_nofollow"].append(rec["robots_nofollow"])
        out["robots_noindex"].append(rec["robots_noindex"])
        out["nofollow_links"].append(rec["nofollow_links"])
    return pd.DataFrame(out)


_ANCHOR_EDGE = schema.T.ArrayType(
    schema.T.StructType(
        [
            schema.T.StructField("url", schema.T.StringType(), True),
            schema.T.StructField("anchor", schema.T.StringType(), True),
        ]
    )
)


@pandas_udf(_ANCHOR_EDGE)
def anchor_links_udf(html: pd.Series, url: pd.Series) -> pd.Series:
    """Full-document (absolute_url, anchor_text) pairs — the focused-
    crawl evidence kernel (extraction.anchor_texts)."""
    out = []
    for h, u in zip(html, url):
        out.append(
            [{"url": lu, "anchor": a}
             for lu, a in extraction.anchor_texts(_decode(h), u or "")]
        )
    return pd.Series(out)


@pandas_udf(schema.HEAD_DATA)
def head_udf(html: pd.Series) -> pd.DataFrame:
    """Head-metadata extraction (SURVEY §1.1 seeder URL record;
    `test_url_seeder.py:166-191`): title, charset, html lang, open
    meta map (name/property → content, e.g. og:*), JSON-LD blocks."""
    from website_to_agent_spark import htmlmini

    out = {k: [] for k in ("title", "charset", "lang", "meta", "jsonld")}
    for h in html:
        doc = htmlmini.parse(_decode(h))
        title_tag = doc.find("title")
        out["title"].append(title_tag.get_text().strip() if title_tag else "")
        charset = ""
        lang = ""
        meta: dict = {}
        jsonld: list = []
        html_tag = doc.find("html")
        if html_tag:
            lang = html_tag.get("lang", "") or ""
        for m in doc.find_all("meta"):
            if "charset" in m.attrs:
                charset = m.attrs["charset"]
            key = m.get("name") or m.get("property")
            if key:
                meta[key] = m.get("content", "") or ""
        for s in doc.find_all("script"):
            if (s.get("type") or "").lower() == "application/ld+json":
                jsonld.append(s.get_text())
        out["charset"].append(charset)
        out["lang"].append(lang)
        out["meta"].append(meta)
        out["jsonld"].append(jsonld)
    return pd.DataFrame(out)


def format_content_markdown(markdown: F.Column, text: F.Column,
                            cleaned_html: F.Column) -> F.Column:
    """`_format_content` MARKDOWN branch (`crawl4ai_client.py:362-367`)
    as a pure Column expression: first non-blank of markdown →
    extracted_content(=text) → cleaned_html(=html) → text, stripped.
    Catalyst-optimizable — no UDF."""
    def nonblank(c: F.Column) -> F.Column:
        return F.when(F.trim(c) != "", F.trim(c))

    return F.coalesce(
        nonblank(markdown), nonblank(text), nonblank(cleaned_html),
        nonblank(text), F.lit("")
    )


def _truthy(c: F.Column) -> F.Column:
    """Python truthiness for the reference's `a or b` chains: non-null,
    non-empty (whitespace-only IS truthy — no strip here)."""
    return F.when(c.isNotNull() & (c != ""), c)


def _json_str(c: F.Column) -> F.Column:
    """JSON-encode one scalar column the way ``json.dumps`` does —
    via ``to_json(struct(v))`` with null kept, then unwrapping the
    ``{"v":...}`` envelope. Caveat (documented divergence): Python's
    default ``ensure_ascii=True`` escapes non-ASCII as ``\\uXXXX``;
    Spark emits raw UTF-8 — byte-identical for ASCII, ``json.loads``-
    equal otherwise."""
    js = F.to_json(
        F.struct(c.alias("v")), {"ignoreNullFields": "false"}
    )
    return F.regexp_extract(js, r'^\{"v":(.*)\}$', 1)


def format_content(fmt: str, markdown: F.Column, text: F.Column,
                   cleaned_html: F.Column, title: F.Column = None,
                   description: F.Column = None,
                   keywords: F.Column = None) -> F.Column:
    """P13: the FULL `_format_content` dispatch
    (`crawl4ai_client.py:352-386`) as pure Column expressions — one
    branch per OutputFormat, no UDF. Our kernel sets
    extracted_content == text and html == cleaned_html
    (`crawl4ai_client.py:130-134`), so those attrs alias below.

    JSON mirrors ``json.dumps({...}, indent=2)`` layout exactly
    (2-space keys, 4-space list items); see ``_json_str`` for the one
    documented non-ASCII divergence."""
    fmt = fmt.lower()
    if fmt == "markdown":
        return format_content_markdown(markdown, text, cleaned_html)
    if fmt == "html":
        # result.html or result.cleaned_html or ''
        return F.coalesce(_truthy(cleaned_html), _truthy(cleaned_html), F.lit(""))
    if fmt == "text":
        # result.text or result.extracted_content or ''
        return F.coalesce(_truthy(text), _truthy(text), F.lit(""))
    if fmt == "structured":
        # result.markdown or result.text or result.extracted_content or ''
        return F.coalesce(_truthy(markdown), _truthy(text), _truthy(text), F.lit(""))
    if fmt == "json":
        assert title is not None and description is not None and keywords is not None
        content = F.coalesce(_truthy(text), text)    # text or extracted_content
        kw = F.coalesce(keywords, F.array().cast("array<string>"))
        kw_json = F.when(F.size(kw) == 0, F.lit("[]")).otherwise(
            F.concat(
                F.lit("[\n"),
                F.array_join(
                    F.transform(
                        kw, lambda k: F.concat(F.lit("    "), _json_str(k))
                    ),
                    ",\n",
                ),
                F.lit("\n  ]"),
            )
        )
        return F.concat(
            F.lit('{\n  "title": '), _json_str(title),
            F.lit(',\n  "content": '), _json_str(content),
            F.lit(',\n  "description": '), _json_str(description),
            F.lit(',\n  "keywords": '), kw_json,
            F.lit("\n}"),
        )
    # unknown format → result.text or result.extracted_content or ''
    return F.coalesce(_truthy(text), _truthy(text), F.lit(""))


def banner(url: F.Column, content: F.Column) -> F.Column:
    """Per-URL content banner (`crawl4ai_client.py:237`)."""
    return F.concat(
        F.lit("\n\n=== CONTENT FROM: "), url, F.lit(" ===\n\n"), content
    )
