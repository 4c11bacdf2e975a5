"""Byte-identity of the distributed extraction kernel (BASELINE.json
input_hint: "byte-identical extracted text per url").

The ``pages.text`` oracle column is produced at fixture-generation time
by the sequential reference-semantics kernel; here the Arrow-batched
pandas UDF re-extracts from ``html`` on executors and must match
byte-for-byte on every row."""

from pyspark.sql import functions as F

from website_to_agent_spark import extraction, htmlmini
from website_to_agent_spark.functions.extract import extract_udf


def test_extract_udf_byte_identity(spark, pages_df):
    out = (
        pages_df.withColumn("ext", extract_udf(F.col("url"), F.col("html")))
        .select("url", "text", F.col("ext.text").alias("spark_text"))
        .collect()
    )
    assert len(out) > 0
    for row in out:
        assert row.spark_text == row.text, f"text mismatch for {row.url}"


def test_extract_udf_struct_fields(spark, pages_df):
    row = (
        pages_df.withColumn("ext", extract_udf(F.col("url"), F.col("html")))
        .filter(F.col("url").endswith("/p/1.html"))
        .select("url", "ext.*")
        .orderBy("url")
        .first()
    )
    assert row.title.startswith("Title 1")
    assert isinstance(row.keywords, list)
    assert row.markdown.startswith("# Page 1")
    assert all(l.url.startswith("http") or l.url.startswith("ftp")
               or l.url.startswith("mailto") for l in row.links)


def test_selector_cascade_branches():
    html = "<html><body><header>noise</header><main><p>MAIN</p></main></body></html>"
    rec = extraction.extract_page(html, "https://x.test/")
    assert rec["text"] == "MAIN"

    html2 = '<html><body><div class="content"><p>C</p></div></body></html>'
    assert extraction.extract_page(html2, "https://x.test/")["text"] == "C"

    html3 = "<html><body><p>B</p></body></html>"
    assert extraction.extract_page(html3, "https://x.test/")["text"] == "B"

    html4 = "<p>NOBODY</p>"
    assert extraction.extract_page(html4, "https://x.test/")["text"] == "NOBODY"


def test_prune_and_whitespace():
    html = (
        "<html><body><script>bad()</script><style>.x{}</style>"
        "<nav>NAV</nav><main><p>a</p>\n\n\n<p>  b   c </p></main></body></html>"
    )
    rec = extraction.extract_page(html, "https://x.test/")
    assert "bad" not in rec["text"] and "NAV" not in rec["text"]
    assert rec["text"] == "a\nb c"


def test_markdown_branches():
    html = (
        "<html><body><main><h1>T</h1><h3>S</h3><ul><li>i1</li><li></li></ul>"
        "<div><p>inner</p></div><p></p></main></body></html>"
    )
    md = extraction.extract_page(html, "https://x.test/")["markdown"]
    # nested div repeats inner text — faithful to bs4 find_all pre-order
    assert md == "# T\n\n### S\n\n- i1\n\ninner\n\ninner"


def test_entities_and_keywords():
    html = (
        '<html><head><title> A &amp; B </title>'
        '<meta name="description" content=" d ">'
        '<meta name="keywords" content="x, y ,, z "></head>'
        "<body><p>&lt;tag&gt;</p></body></html>"
    )
    rec = extraction.extract_page(html, "https://x.test/")
    assert rec["title"] == "A & B"
    assert rec["description"] == "d"
    assert rec["keywords"] == ["x", "y", "z"]
    assert rec["text"] == "<tag>"


def test_htmlmini_roundtrip():
    html = '<div id="a" class="b c"><p>x &amp; y</p><br><img src="i.png"></div>'
    node = htmlmini.parse(html)
    s = htmlmini.serialize(node)
    assert htmlmini.parse(s).get_text("|", strip=True) == node.get_text("|", strip=True)


def test_format_content_all_branches_parity(spark, pages_df):
    """P13: every `_format_content` OutputFormat branch
    (`crawl4ai_client.py:352-386`) matches the sequential mirror
    byte-for-byte over the fixture pages (ASCII corpus)."""
    from website_to_agent_spark import reference_sim
    from website_to_agent_spark.functions.extract import format_content

    ext = pages_df.withColumn(
        "ext", extract_udf(F.col("url"), F.col("html"))
    ).select("url", "html", "ext.*")
    cols = {c: F.col(c) for c in
            ("title", "description", "keywords", "text", "markdown",
             "cleaned_html")}
    out = ext
    for fmt in ("markdown", "html", "text", "json", "structured"):
        out = out.withColumn(
            f"fmt_{fmt}",
            format_content(fmt, cols["markdown"], cols["text"],
                           cols["cleaned_html"], title=cols["title"],
                           description=cols["description"],
                           keywords=cols["keywords"]),
        )
    rows = out.collect()
    assert rows
    n_kw = 0
    for r in rows:
        rec = extraction.extract_page(
            bytes(r.html).decode("utf-8", "replace"), r.url
        )
        n_kw += bool(rec["keywords"])
        for fmt in ("markdown", "html", "text", "json", "structured"):
            want = reference_sim.format_content_sim(rec, fmt)
            got = getattr(r, f"fmt_{fmt}")
            if fmt == "json" and not got.isascii():
                # documented divergence: json.dumps(ensure_ascii=True)
                # escapes non-ASCII as \uXXXX, Spark emits raw UTF-8 —
                # same JSON value, different bytes
                import json as _json

                assert _json.loads(got) == _json.loads(want), (r.url, fmt)
            else:
                assert got == want, (r.url, fmt, got[:200], want[:200])
    assert n_kw > 0  # the multiline-list JSON layout was exercised


def test_format_content_fallback_chains_and_unicode(spark):
    """Empty-field fallback order per branch; non-ASCII JSON is
    json.loads-equal (documented divergence: Spark emits raw UTF-8
    where json.dumps escapes \\uXXXX)."""
    import json

    from website_to_agent_spark.functions.extract import format_content

    df = spark.createDataFrame(
        [
            # markdown empty -> text wins for markdown/structured
            ("t1", "", "some text", "<div>x</div>", "T", "D", ["k"]),
            # all blank -> '' everywhere except json
            ("t2", " ", "", "", "", "", []),
            # unicode content
            ("t3", "", "café — résumé", "<p>é</p>",
             "título", "désc", ["café"]),
        ],
        "id string, markdown string, text string, cleaned_html string, "
        "title string, description string, keywords array<string>",
    )
    out = {r.id: r for r in df.select(
        "id",
        *[format_content(f, F.col("markdown"), F.col("text"),
                         F.col("cleaned_html"), title=F.col("title"),
                         description=F.col("description"),
                         keywords=F.col("keywords")).alias(f)
          for f in ("markdown", "html", "text", "json", "structured")],
    ).collect()}
    assert out["t1"].markdown == "some text"
    assert out["t1"].structured == "some text"
    assert out["t1"].html == "<div>x</div>"
    assert out["t1"].text == "some text"
    assert json.loads(out["t1"].json) == {
        "title": "T", "content": "some text", "description": "D",
        "keywords": ["k"],
    }
    # whitespace-only markdown is falsy for MARKDOWN (strip check) but
    # truthy for STRUCTURED (plain `or`) — reference semantics
    assert out["t2"].markdown == ""
    assert out["t2"].structured == " "
    assert out["t2"].html == "" and out["t2"].text == ""
    assert json.loads(out["t3"].json) == {
        "title": "título", "content": "café — résumé",
        "description": "désc", "keywords": ["café"],
    }


def test_crawl_engine_output_format_json(spark, pages_df):
    """P13 wired through the engine: output_format='json' crawls carry
    the JSON document in `content`, matching the mirror per URL."""
    import json

    from website_to_agent_spark import reference_sim
    from website_to_agent_spark.operators.crawl import CrawlEngine, CrawlJob

    seed = pages_df.select("url").orderBy("url").first().url
    res = CrawlEngine(
        spark, pages_df, mode="client", output_format="json"
    ).run([CrawlJob("fmt", seed, max_urls=3)])
    rows = [r for r in res.crawled.collect() if r.success]
    assert rows
    by_url = {r["url"]: r for r in pages_df.select("url", "html").collect()}
    for r in rows:
        rec = extraction.extract_page(
            bytes(by_url[r.url].html).decode("utf-8", "replace"), r.url
        )
        assert json.loads(r.content) == json.loads(
            reference_sim.format_content_sim(rec, "json")
        )


# hand-derived from html.parser/BeautifulSoup semantics (NOT computed
# by htmlmini — independent oracle): get_text('\n', strip=True) over
# the selector-cascade content area after script/style/nav/header/
# footer/aside decompose
ADVERSARIAL_EXPECTED_TEXT = {
    "misnested": "bold-italic\ntail\npara",
    "comment_in_main": "visible",
    "cdata_in_main": "before\nafter",
    "entity_edges": "it's & bare & amp A &unknownentity; >",
    "void_boundaries": "line1\nline2\nline3\nafter",
    "multiple_main": "first main",
    "cascade_tie": "mn",
    "unclosed_tags": "open\ntwo\ninner",
    "attr_quirks": "p1",
    "script_inside_main": "keep\nalso keep",
    "nested_main_like": "inner main",
    "whitespace_entities_title": "body",
}


def test_adversarial_html_hand_oracle():
    """Parser edge cases against HAND-DERIVED expectations (mis-nested
    tags, comments/CDATA inside main, entity edges, void-element text
    boundaries, multiple <main>, cascade ties, unclosed tags, attribute
    quirks) — the oracle here is written down, not computed by the
    code under test."""
    from website_to_agent_spark.fixtures import ADVERSARIAL_HTML

    assert set(ADVERSARIAL_EXPECTED_TEXT) == set(ADVERSARIAL_HTML)
    for slug, html in ADVERSARIAL_HTML.items():
        rec = extraction.extract_page(html, f"https://a.test/{slug}.html")
        assert rec["text"] == ADVERSARIAL_EXPECTED_TEXT[slug], slug
    # head extraction on the entity/whitespace page
    rec = extraction.extract_page(
        ADVERSARIAL_HTML["whitespace_entities_title"], "https://a.test/t.html"
    )
    assert rec["title"] == "T&T · x"
    assert rec["description"] == 'd "q"'


def test_adversarial_html_through_spark_kernel(spark):
    """The same adversarial corpus flows through the Arrow-batched
    extract kernel on executors and matches the hand oracle."""
    from website_to_agent_spark import fixtures

    rows = fixtures.adversarial_rows()
    df = fixtures.pages_rows_to_spark(spark, rows)
    got = {
        r.url.rsplit("/", 1)[1].split(".")[0]: r.spark_text
        for r in df.withColumn(
            "ext", extract_udf(F.col("url"), F.col("html"))
        ).select("url", F.col("ext.text").alias("spark_text")).collect()
    }
    assert got == ADVERSARIAL_EXPECTED_TEXT


def test_charset_aware_decode(spark):
    """Real-web charsets (the role requests/bs4 play for the
    reference): meta-declared ISO-8859-1 and Windows-1251 decode to
    the right text, UTF-16 BOMs win over everything, a lying charset
    never crashes, and plain UTF-8 is unchanged."""
    from website_to_agent_spark.functions.extract import _decode, extract_udf

    latin = ('<html><head><meta http-equiv="Content-Type" '
             'content="text/html; charset=ISO-8859-1"></head>'
             "<body><main><p>café crème</p></main></body></html>")
    assert "café crème" in _decode(latin.encode("iso-8859-1"))

    cyr = ('<html><head><meta charset="windows-1251"></head>'
           "<body><main><p>привет</p>"
           "</main></body></html>")
    assert "привет" in _decode(cyr.encode("windows-1251"))

    utf16 = "<html><body><main><p>héllo</p></main></body></html>"
    import codecs
    assert "héllo" in _decode(codecs.BOM_UTF16_LE
                              + utf16.encode("utf-16-le"))

    lying = ('<html><head><meta charset="no-such-charset"></head>'
             "<body><main><p>ok</p></main></body></html>")
    assert "ok" in _decode(lying.encode())

    # through the Arrow kernel end-to-end
    df = spark.createDataFrame(
        [("https://c.test/", cyr.encode("windows-1251"))],
        "url string, html binary",
    )
    from pyspark.sql import functions as F
    got = df.select(extract_udf(F.col("url"), F.col("html"))
                    .alias("e")).select("e.text").first().text
    assert "привет" in got


def test_charset_prescan_ignores_prose_mentions():
    """A description that merely MENTIONS charset=koi8-r must not
    hijack the decode (review finding); both standard declaration
    forms still work."""
    from website_to_agent_spark.functions.extract import _decode

    prose = ('<html><head><meta name="description" content="text '
             'encoded with charset=koi8-r once"></head>'
             "<body><main><p>café</p></main></body></html>")
    assert "café" in _decode(prose.encode("utf-8"))

    attr = ('<html><head><meta charset="iso-8859-1"></head>'
            "<body><main><p>café</p></main></body></html>")
    assert "café" in _decode(attr.encode("iso-8859-1"))

    ctype = ('<html><head><meta http-equiv="Content-Type" content='
             '"text/html; charset=iso-8859-1"></head>'
             "<body><main><p>café</p></main></body></html>")
    assert "café" in _decode(ctype.encode("iso-8859-1"))


def test_robots_meta_name_case_insensitive():
    rec = extraction.extract_page(
        '<html><head><meta name="ROBOTS" content="noindex"></head>'
        "<body><main>x</main></body></html>",
        "https://m.test/",
    )
    assert rec["robots_noindex"] and not rec["robots_nofollow"]


_SEEDER_EDGE_PAGES = {
    # empty, whitespace-only and #-fragment hrefs are skipped; a
    # valueless rel and a rel=nofollow anchor still count as links
    "https://e.example.com/a/edges.html": (
        '<html><body><a href="">e</a><a href="   ">w</a>'
        '<a href="#top">f</a><a href=" #x ">g</a>'
        '<a rel href="/valueless-rel.html">v</a>'
        '<a rel="nofollow" href="nf.html">n</a>'
        '<a href=" rel.html ">r</a><a>no href</a>'
        '<a href="mailto:x@example.com">m</a></body></html>'
    ),
    # urljoin raises on an invalid IPv6 host: the page yields no links
    "https://e.example.com/a/ipv6.html": (
        '<html><body><a href="/ok.html">ok</a>'
        '<a href="http://[::1/broken">bad</a></body></html>'
    ),
    "https://e.example.com/a/none.html": "<html><body>no anchors</body></html>",
}


def test_seeder_link_kernel_matches_oracle(spark, site):
    """The seeder's one link kernel (``seeder_links_meta_udf``) returns
    exactly the sequential oracle's links (``extraction.seeder_links``)
    on the fixture site and on href edge cases."""
    from website_to_agent_spark import fixtures
    from website_to_agent_spark.functions.extract import (
        _decode,
        seeder_links_meta_udf,
    )

    ts = site.rows[0]["warc_ts"]
    rows = list(site.rows) + [
        {"url": u, "warc_ts": ts, "html": h.encode(), "text": None,
         "lang": None}
        for u, h in _SEEDER_EDGE_PAGES.items()
    ]
    want = {
        r["url"]: extraction.seeder_links(_decode(r["html"]), r["url"])
        for r in rows
    }
    for u, html in _SEEDER_EDGE_PAGES.items():
        assert extraction.seeder_links_meta(html, u)["links"] == want[u]
    assert want["https://e.example.com/a/edges.html"] == [
        ("https://e.example.com/valueless-rel.html", 4),
        ("https://e.example.com/a/nf.html", 5),
        ("https://e.example.com/a/rel.html", 6),
        ("mailto:x@example.com", 7),
    ]
    assert want["https://e.example.com/a/ipv6.html"] == []

    got = {
        r.url: [(l.url, l.pos) for l in r.links]
        for r in fixtures.pages_rows_to_spark(spark, rows)
        .select("url", seeder_links_meta_udf(F.col("html"), F.col("url"))
                .links.alias("links"))
        .collect()
    }
    assert got == want
