"""Pure-Python extraction kernels — the single source of truth for the
reference's extraction semantics.

These functions replicate, branch for branch, the parse/extract path of
`/root/reference/src/crawl4ai_client.py:80-181` (DOM pruning, title /
meta extraction, main-content selector cascade, text extraction +
whitespace normalization, HTML→markdown) and the seeder link extractor
`/root/reference/src/url_seeder.py:143-221`.

They are imported BOTH by the Arrow-batched pandas UDFs
(``website_to_agent_spark.functions.extract``) and by the
single-threaded reference-semantics simulator
(``website_to_agent_spark.reference_sim``) so the byte-identity
invariant (BASELINE.json ``input_hint``) is checked against one shared
kernel, executed distributed vs sequential.
"""

from __future__ import annotations

import re
from typing import List, Optional, Tuple
from urllib.parse import urljoin, urlparse

from website_to_agent_spark import htmlmini

# Pruned before any extraction (`crawl4ai_client.py:83-84`).
PRUNE_TAGS = ["script", "style", "nav", "header", "footer", "aside"]

# Main-content selector cascade (`crawl4ai_client.py:102`).
MAIN_SELECTORS = ["main", "article", ".content", ".main-content", "#content", "#main"]

HEADING_TAGS = ("h1", "h2", "h3", "h4", "h5", "h6")
MARKDOWN_TAGS = HEADING_TAGS + ("p", "div", "li")

# Client-mode extension skip list (`crawl4ai_client.py:277`).
CLIENT_SKIP_EXTENSIONS = (".pdf", ".jpg", ".png", ".gif", ".css", ".js", ".zip")

# Seeder extension skip list (`url_seeder.py:204-206`).
SEEDER_SKIP_EXTENSIONS = (
    ".pdf", ".doc", ".docx", ".xls", ".xlsx", ".ppt", ".pptx",
    ".zip", ".rar", ".tar", ".gz", ".jpg", ".jpeg", ".png", ".gif",
    ".mp4", ".avi", ".mov", ".mp3", ".wav", ".css", ".js",
)

# Seeder path-prefix skip list (`url_seeder.py:212-213`).
SEEDER_SKIP_PATHS = (
    "/admin", "/login", "/logout", "/register", "/cart", "/checkout",
    "/api/", "/wp-admin", "/wp-login", "/.well-known",
)

_RE_BLANKS = re.compile(r"\n\s*\n")
_RE_SPACES = re.compile(r" +")


def normalize_text(text: str) -> str:
    """Whitespace normalization, `crawl4ai_client.py:119-121`."""
    text = _RE_BLANKS.sub("\n\n", text)
    text = _RE_SPACES.sub(" ", text)
    return text.strip()


def html_to_markdown(node: htmlmini.Node) -> str:
    """`SimpleScraper._html_to_markdown`, `crawl4ai_client.py:158-181`.

    Walks h1-h6/p/div/li in document order (nested elements repeat
    their text — faithful to the reference's ``find_all``)."""
    try:
        content_parts: List[str] = []
        # bs4 find_all searches descendants only — the main_content
        # element itself is never emitted, even when it is a div.
        for element in node.find_all(list(MARKDOWN_TAGS)):
            text = element.get_text(strip=True)
            if not text:
                continue
            if element.name in HEADING_TAGS:
                level = int(element.name[1])
                content_parts.append(f"{'#' * level} {text}")
            elif element.name == "li":
                content_parts.append(f"- {text}")
            else:
                content_parts.append(text)
        return "\n\n".join(content_parts)
    except Exception:
        return node.get_text(separator="\n", strip=True)


def extract_page(html: str, url: str) -> dict:
    """Parse + extract one page: the body of `SimpleScraper.scrape_url`
    (`crawl4ai_client.py:80-140`) minus the HTTP fetch.

    Returns a dict with keys ``title, description, keywords, text,
    markdown, cleaned_html, links`` where ``links`` is the ordered list
    of ``(absolute_url, pos)`` anchors found in the *pruned main
    content* (the client discovers links by re-parsing ``result.html``
    = ``str(main_content)``, `crawl4ai_client.py:245-246`)."""
    soup = htmlmini.parse(html)

    # Remove script/style/nav/header/footer/aside (`:83-84`).
    for tag in soup.find_all(PRUNE_TAGS):
        tag.decompose()

    title_tag = soup.find("title")
    title = title_tag.get_text().strip() if title_tag else ""

    desc_tag = soup.find("meta", attrs={"name": "description"})
    description = desc_tag.get("content", "").strip() if desc_tag else ""

    keywords_tag = soup.find("meta", attrs={"name": "keywords"})
    keywords = keywords_tag.get("content", "").split(",") if keywords_tag else []
    keywords = [k.strip() for k in keywords if k.strip()]

    main_content: Optional[htmlmini.Node] = None
    for selector in MAIN_SELECTORS:
        main_content = soup.select_one(selector)
        if main_content:
            break
    if not main_content:
        main_content = soup.find("body")
    if not main_content:
        main_content = soup

    text_content = normalize_text(
        main_content.get_text(separator="\n", strip=True)
    )
    markdown_content = html_to_markdown(main_content)
    cleaned_html = htmlmini.serialize(main_content)

    # robots meta directives (REP, as Google/Bing document them; the
    # reference client ignores them — this is additive engine-side
    # data, consumed only when CrawlEngine(honor_meta_robots=True)):
    # noindex ⟹ don't index/keep the content; nofollow (page-level)
    # ⟹ discover no links from this page; 'none' ⟹ both.
    # the name attribute is case-insensitive in the wild (<meta
    # name="ROBOTS">), so scan all metas rather than exact-matching
    # (description/keywords above stay exact-match — that is the
    # reference client's bs4 behavior, i.e. parity; robots handling
    # is engine-side and follows the spec)
    robots_tokens = set()
    for m in soup.find_all("meta"):
        if m.get("name", "").strip().lower() == "robots":
            robots_tokens |= {
                t.strip().lower()
                for t in m.get("content", "").split(",")
            }
    robots_noindex = bool(robots_tokens & {"noindex", "none"})
    robots_nofollow = bool(robots_tokens & {"nofollow", "none"})

    # Client link discovery parses result.html — i.e. main_content only,
    # post-prune (`crawl4ai_client.py:245-264`); href NOT stripped.
    # rel="nofollow" anchors (token match, case-insensitive) are still
    # LISTED in links (reference parity) but also reported separately
    # so the engine can exclude them from discovery when asked.
    links: List[Tuple[str, int]] = []
    nofollow_links: List[str] = []
    for pos, a in enumerate(main_content.find_all("a", href=True)):
        absolute = urljoin(url, a.attrs["href"])
        links.append((absolute, pos))
        rel_tokens = a.attrs.get("rel", "").lower().split()
        if "nofollow" in rel_tokens:
            nofollow_links.append(absolute)

    return {
        "title": title,
        "description": description,
        "keywords": keywords,
        "text": text_content,
        "markdown": markdown_content,
        "cleaned_html": cleaned_html,
        "links": links,
        "robots_noindex": robots_noindex,
        "robots_nofollow": robots_nofollow,
        "nofollow_links": nofollow_links,
    }


def anchor_texts(html: str, current_url: str) -> List[Tuple[str, str]]:
    """(absolute_url, anchor_text) for every full-document anchor —
    the evidence a focused crawler has about a page BEFORE fetching
    it (shark-search; Hersovici et al. WWW'98). Same href semantics
    as :func:`seeder_links`; anchor text is the node's normalized
    get_text (image-only anchors yield '')."""
    try:
        soup = htmlmini.parse(html)
        out: List[Tuple[str, str]] = []
        for a in soup.find_all("a", href=True):
            href = a.attrs["href"].strip()
            if not href or href.startswith("#"):
                continue
            out.append(
                (urljoin(current_url, href),
                 normalize_text(a.get_text(separator=" ", strip=True)))
            )
        return out
    except Exception:
        return []


def seeder_links(html: str, current_url: str) -> List[Tuple[str, int]]:
    """`URLSeeder._extract_links` minus validity filtering
    (`url_seeder.py:143-174`): full-document anchors, href stripped,
    empty / ``#``-prefixed skipped, then urljoin."""
    try:
        soup = htmlmini.parse(html)
        out: List[Tuple[str, int]] = []
        for pos, a in enumerate(soup.find_all("a", href=True)):
            href = a.attrs["href"].strip()
            if not href or href.startswith("#"):
                continue
            out.append((urljoin(current_url, href), pos))
        return out
    except Exception:
        return []


def seeder_links_meta(html: str, current_url: str) -> dict:
    """Seeder link extraction PLUS the robots directives, one parse:
    ``{links: [(url, pos)...], robots_nofollow: bool,
    nofollow_links: [url...]}`` — same link semantics as
    :func:`seeder_links`; the meta scan is the case-insensitive one of
    :func:`extract_page`. The kernel behind ``seeder_links_meta_udf``
    (the seeder's and the link graph's); its ``links`` must stay equal
    to :func:`seeder_links`, the sequential oracle's."""
    try:
        soup = htmlmini.parse(html)
        robots_tokens = set()
        for m in soup.find_all("meta"):
            if m.get("name", "").strip().lower() == "robots":
                robots_tokens |= {
                    t.strip().lower()
                    for t in m.get("content", "").split(",")
                }
        links: List[Tuple[str, int]] = []
        nofollow: List[str] = []
        for pos, a in enumerate(soup.find_all("a", href=True)):
            href = a.attrs["href"].strip()
            if not href or href.startswith("#"):
                continue
            absolute = urljoin(current_url, href)
            links.append((absolute, pos))
            if "nofollow" in a.attrs.get("rel", "").lower().split():
                nofollow.append(absolute)
        return {
            "links": links,
            "robots_nofollow": bool(robots_tokens & {"nofollow", "none"}),
            "robots_noindex": bool(robots_tokens & {"noindex", "none"}),
            "nofollow_links": nofollow,
        }
    except Exception:
        return {"links": [], "robots_nofollow": False,
                "robots_noindex": False, "nofollow_links": []}


def seeder_is_valid_url(url: str, base_domain: str) -> bool:
    """`URLSeeder._is_valid_url`, `url_seeder.py:180-221`."""
    try:
        parsed = urlparse(url)
        if parsed.scheme not in ("http", "https"):
            return False
        if not parsed.netloc.endswith(base_domain):
            return False
        path = parsed.path.lower()
        if any(path.endswith(ext) for ext in SEEDER_SKIP_EXTENSIONS):
            return False
        if any(path.startswith(p) for p in SEEDER_SKIP_PATHS):
            return False
        return True
    except Exception:
        return False


def client_link_ok(full_url: str, base_domain: str) -> bool:
    """Client-mode stateless link filters (`crawl4ai_client.py:268-279`):
    exact-host match + 7-extension skip list. Seen/queued dedup is
    handled relationally (anti-join) by the engine."""
    if urlparse(full_url).netloc != base_domain:
        return False
    if full_url.endswith(CLIENT_SKIP_EXTENSIONS):
        return False
    return True
