"""Property tests: algebraic invariants of the column operators over
seeded randomized adversarial inputs (one Spark job per property, ~300
examples each — the hypothesis style without per-example Spark jobs).

Each property is something a user relies on implicitly:
- canonical_url is idempotent (canon∘canon = canon);
- chunk_text reconstructs the document (overlap-stripped concatenation
  is the identity) and never exceeds the chunk width;
- dedup_lines is idempotent and emits each line once, in input order;
- trim_intelligently is the identity for short inputs and bounded for
  long ones;
- sanitize_markdown's output is inside its own whitelist alphabet;
- pii_scrub leaves no matchable email/IPv4 behind;
- hash_embed vectors are unit-norm (or all-zero for token-less text).
"""

import random
import re
import string

from pyspark.sql import functions as F

from website_to_agent_spark.functions import urlfns
from website_to_agent_spark.operators import ann
from website_to_agent_spark.operators import textquality as tq
from website_to_agent_spark.operators import webtext

_RNG = random.Random(20260816)


def _rand_text(rng, min_len=0, max_len=800):
    alphabet = (
        string.ascii_letters + string.digits + " \n\t.,!?#*-_()[]{}<>&;:@/\\"
        + "äöé€—…"
    )
    n = rng.randint(min_len, max_len)
    return "".join(rng.choice(alphabet) for _ in range(n))


def _rand_url(rng):
    scheme = rng.choice(["http", "https", "HTTP", "HtTpS"])
    host = rng.choice(
        ["Ex.COM", "a.b.co.uk", "x-y.test", "h.test:8080", "h.test:443",
         "h.test:80"]
    )
    path = "/" + "/".join(
        "".join(rng.choice(string.ascii_letters) for _ in range(rng.randint(1, 6)))
        for _ in range(rng.randint(0, 3))
    ) if rng.random() < 0.8 else ""
    params = []
    for _ in range(rng.randint(0, 4)):
        k = rng.choice(["a", "b", "utm_source", "gclid", "Z", "ref", "q"])
        params.append(f"{k}={rng.randint(0, 9)}")
    q = ("?" + "&".join(params)) if params else ""
    frag = "#frag" if rng.random() < 0.3 else ""
    return f"{scheme}://{host}{path}{q}{frag}"


def test_canonical_url_idempotent(spark):
    urls = [(_rand_url(_RNG),) for _ in range(300)]
    df = spark.createDataFrame(urls, "url string")
    out = df.select(
        urlfns.canonical_url(F.col("url")).alias("c1"),
        urlfns.canonical_url(urlfns.canonical_url(F.col("url"))).alias("c2"),
    ).collect()
    for r in out:
        assert r.c1 == r.c2, r


def test_chunk_text_reconstructs_and_bounds(spark):
    rows = [(_rand_text(_RNG, 0, 600),) for _ in range(200)]
    ck, ov = 64, 16
    df = spark.createDataFrame(rows, "text string")
    got = df.select(
        "text", webtext.chunk_text(F.col("text"), ck, ov).alias("chunks")
    ).collect()
    for r in got:
        assert all(len(c.content) <= ck for c in r.chunks)
        rebuilt = r.chunks[0].content + "".join(
            c.content[ov:] for c in r.chunks[1:]
        )
        assert rebuilt == r.text, (len(r.text), len(rebuilt))


def test_dedup_lines_idempotent_unique_ordered(spark):
    rows = []
    for _ in range(200):
        lines = [_rand_text(_RNG, 0, 12) for _ in range(_RNG.randint(0, 12))]
        # force duplicates
        lines += [_RNG.choice(lines)] * 2 if lines else []
        rows.append(("\n".join(lines),))
    df = spark.createDataFrame(rows, "text string")
    got = df.select(
        "text",
        webtext.dedup_lines(F.col("text")).alias("d1"),
        webtext.dedup_lines(webtext.dedup_lines(F.col("text"))).alias("d2"),
    ).collect()
    for r in got:
        assert r.d1 == r.d2                     # idempotent
        out_lines = r.d1.split("\n")
        assert len(out_lines) == len(set(out_lines))  # unique
        seen = set()
        expect = []
        for l in r.text.split("\n"):            # first-occurrence order
            if l not in seen:
                seen.add(l)
                expect.append(l)
        assert out_lines == expect


def test_trim_identity_and_bound(spark):
    rows = [(_rand_text(_RNG, 0, 1500),) for _ in range(200)]
    max_tokens = 100   # 400 chars; markers add 2×44
    df = spark.createDataFrame(rows, "text string")
    got = df.select(
        "text", tq.trim_intelligently(F.col("text"), max_tokens).alias("t")
    ).collect()
    for r in got:
        if len(r.text) <= 400:
            assert r.t == r.text
        else:
            assert len(r.t) <= 400 + 2 * len(
                "\n\n[... CONTENT TRIMMED FOR ANALYSIS ...]\n\n"
            )


def test_sanitize_markdown_stays_in_whitelist(spark):
    rows = [(_rand_text(_RNG, 0, 400),) for _ in range(300)]
    df = spark.createDataFrame(rows, "text string")
    got = df.select(tq.sanitize_markdown(F.col("text")).alias("s")).collect()
    ok = re.compile(r"^[a-zA-Z0-9 .,!?:-]*$")
    for r in got:
        assert r.s == "Content processed safely" or ok.match(r.s), r.s


def test_pii_scrub_leaves_no_pii(spark):
    rng = _RNG
    rows = []
    for _ in range(200):
        t = _rand_text(rng, 0, 120)
        t += f" {rng.choice('abc')}{rng.randint(0,99)}@mail{rng.randint(0,9)}.org "
        t += f"{rng.randint(1,255)}.{rng.randint(0,255)}.{rng.randint(0,255)}.{rng.randint(1,254)}"
        rows.append((t,))
    df = spark.createDataFrame(rows, "text string")
    got = df.select(webtext.pii_scrub(F.col("text")).alias("c")).collect()
    email = re.compile(webtext.EMAIL_RE)
    ip = re.compile(webtext.IPV4_RE)
    for r in got:
        assert not email.search(r.c), r.c
        assert not ip.search(r.c), r.c


def test_hash_embed_unit_norm_or_zero(spark):
    rows = [(_rand_text(_RNG, 0, 200),) for _ in range(200)] + [("",), ("!!!",)]
    df = spark.createDataFrame(rows, "text string")
    got = df.select(
        "text", ann.hash_embed(F.col("text"), dim=16).alias("e")
    ).collect()
    for r in got:
        n = sum(x * x for x in r.e)
        has_tok = any(c.isalnum() and c.isascii() for c in r.text.lower())
        if has_tok:
            assert abs(n - 1.0) < 1e-9, (r.text, n)
        else:
            assert n < 1e-9


def test_split_by_hash_partition_property(spark):
    """For random weights and random keys: every row lands in exactly
    one split, the assignment is key-pure (duplicate keys agree), and
    observed shares are within a loose Chernoff-ish band."""
    from website_to_agent_spark.operators import sampling

    rng = random.Random(7)
    w = {"a": rng.uniform(0.2, 0.6), "b": rng.uniform(0.1, 0.4),
         "c": rng.uniform(0.1, 0.4)}
    keys = [rng.randint(0, 500) for _ in range(900)]      # with dups
    df = spark.createDataFrame([(k,) for k in keys], "k long")
    out = sampling.split_by_hash(df, "k", w, salt="prop").collect()
    assert len(out) == len(keys)
    by_key = {}
    for r in out:
        by_key.setdefault(r.k, set()).add(r.split)
    assert all(len(s) == 1 for s in by_key.values())      # key-pure
    total_w = sum(w.values())
    uniq = {k: next(iter(s)) for k, s in by_key.items()}
    n = len(uniq)
    for name, frac in w.items():
        got = sum(1 for v in uniq.values() if v == name) / n
        assert abs(got - frac / total_w) < 0.12, (name, got)


def test_pack_sequences_invariants(spark):
    """Random token counts: bins are contiguous per group, bin ids are
    dense from 0, and (bin total − its largest doc) < budget — the
    documented ≤-one-doc overflow bound."""
    from website_to_agent_spark.operators import sampling

    rng = random.Random(11)
    rows = [(i, rng.randint(1, 900)) for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, n long")
    out = sampling.pack_sequences(df, 1000, "doc_id", F.col("n"),
                                  n_groups=7).collect()
    by_group = {}
    for r in out:
        by_group.setdefault(r.pack_group, []).append(r)
    for g, members in by_group.items():
        members.sort(key=lambda r: r.doc_id)
        bins = [r.bin_id for r in members]
        assert bins[0] == 0
        assert all(b2 - b1 in (0, 1) or b2 > b1
                   for b1, b2 in zip(bins, bins[1:]))     # nondecreasing
        assert all(b2 >= b1 for b1, b2 in zip(bins, bins[1:]))
        from collections import defaultdict
        tot = defaultdict(int)
        big = defaultdict(int)
        for r in members:
            tot[r.bin_id] += r.n_tokens
            big[r.bin_id] = max(big[r.bin_id], r.n_tokens)
        for b in tot:
            assert tot[b] - big[b] < 1000, (g, b)


def test_dedup_paragraphs_properties(spark):
    """Random paragraph soup with injected repeats: total surviving
    occurrences of each distinct paragraph == 1; reassembled docs are
    subsequences of their originals; operator is idempotent."""
    from website_to_agent_spark.operators import curation

    rng = random.Random(13)
    pool = [f"para {i} " + _rand_text(rng, 5, 40).replace("\n", " ")
            for i in range(30)]
    rows = []
    for d in range(40):
        paras = [rng.choice(pool) for _ in range(rng.randint(1, 6))]
        rows.append((d, "\n\n".join(paras)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = curation.dedup_paragraphs_across_docs(docs).collect()
    seen = {}
    for r in out:
        for p in r.text.split("\n\n"):
            seen[p] = seen.get(p, 0) + 1
    assert all(v == 1 for v in seen.values())             # global uniqueness
    orig = dict(rows)
    for r in out:
        kept = r.text.split("\n\n")
        source = orig[r.doc_id].split("\n\n")
        it = iter(source)
        assert all(p in it for p in kept), r.doc_id       # subsequence
    # idempotent: a second pass changes nothing
    once = spark.createDataFrame(
        [(r.doc_id, r.text) for r in out], "doc_id long, text string")
    twice = {r.doc_id: r.text
             for r in curation.dedup_paragraphs_across_docs(once).collect()}
    assert twice == {r.doc_id: r.text for r in out}


def test_pagerank_invariants(spark):
    """Random digraphs: Σrank == 1 (mass conserved incl. dangling),
    every rank ≥ (1-d)/N, and a k-regular graph is exactly uniform."""
    from website_to_agent_spark.operators import linkgraph

    rnd = random.Random(7)
    nodes = [f"n{i}" for i in range(12)]
    edges = [
        (rnd.choice(nodes), rnd.choice(nodes), rnd.randint(1, 4))
        for _ in range(30)
    ]
    df = spark.createDataFrame(edges, "src string, dst string, w long")
    ranks = {
        r["node"]: r["rank"]
        for r in linkgraph.pagerank(df, iters=6, weight_col="w").collect()
    }
    n = len(ranks)
    assert abs(sum(ranks.values()) - 1.0) < 1e-8
    assert all(v >= (1 - 0.85) / n - 1e-12 for v in ranks.values())

    ring = spark.createDataFrame(
        [(f"r{i}", f"r{(i + 1) % 7}") for i in range(7)],
        "src string, dst string",
    )
    for r in linkgraph.pagerank(ring, iters=4).collect():
        assert abs(r["rank"] - 1 / 7) < 1e-11


def test_connected_components_invariants(spark):
    """Random graphs: labels form an equivalence (every edge's two
    endpoints share a component; each component's label is a member
    and the minimum of its members)."""
    from website_to_agent_spark.operators import linkgraph

    rnd = random.Random(13)
    nodes = [f"v{i:02d}" for i in range(20)]
    edges = [
        (rnd.choice(nodes), rnd.choice(nodes)) for _ in range(15)
    ]
    df = spark.createDataFrame(edges, "src string, dst string")
    comp = {
        r["node"]: r["component"]
        for r in linkgraph.connected_components(df).collect()
    }
    for a, b in edges:
        assert comp[a] == comp[b], (a, b)
    groups: dict = {}
    for v, c in comp.items():
        groups.setdefault(c, []).append(v)
    for c, members in groups.items():
        assert c == min(members)


def test_cuckoo_random_ops_never_false_negative(spark):
    """Random insert/delete interleavings: every inserted-and-not-
    deleted url probes maybe_seen; deletion only of inserted urls."""
    from website_to_agent_spark.operators import cuckoo

    rnd = random.Random(23)
    urls = [f"https://p.test/{i}" for i in range(120)]
    inserted = set(rnd.sample(urls, 80))
    deleted = set(rnd.sample(sorted(inserted), 25))

    def df_of(us):
        return spark.createDataFrame(
            [("p.test", u) for u in sorted(us)],
            "reg_domain string, url string",
        )

    table = cuckoo.build_cuckoos(df_of(inserted), n_buckets=1 << 7)
    table = cuckoo.remove_from_cuckoos(table, df_of(deleted),
                                       n_buckets=1 << 7)
    live = inserted - deleted
    probed = cuckoo.probe_cuckoos(df_of(live), table, n_buckets=1 << 7)
    assert probed.filter(~F.col("maybe_seen")).count() == 0


def test_recrawl_rate_monotonicity(spark):
    """More observed changes over the same span ⇒ strictly larger rate
    and staleness score; score grows linearly with age."""
    from datetime import datetime

    from website_to_agent_spark.operators import recrawl

    def snaps(url, digests):
        return [(url, datetime(2024, 1, 1, i), d)
                for i, d in enumerate(digests)]

    rows = snaps("u1", ["a", "b", "c", "d"]) + snaps("u2", ["a", "a", "a", "b"])
    df = spark.createDataFrame(rows, "url string, ts timestamp, digest string")
    rates = recrawl.change_rate(recrawl.mark_changes(df))
    s1 = {r["url"]: r["score"] for r in recrawl.revisit_priority(
        rates, datetime(2024, 1, 2)).collect()}
    s2 = {r["url"]: r["score"] for r in recrawl.revisit_priority(
        rates, datetime(2024, 1, 3)).collect()}
    assert s1["u1"] > s1["u2"] > 0
    assert abs(s2["u1"] / s1["u1"] - (45 / 21)) < 1e-9  # age 45h vs 21h


def _span_dedup_reference(rows, k=8):
    """Brute-force Python mirror of curation.remove_duplicate_spans:
    same tokenizer, same global-first winner election, same interval
    union. The property suite checks the Spark operator against this
    on small-alphabet corpora where collisions/ties/overlaps are
    dense."""
    toks = {i: [t for t in re.split(r"[^a-z0-9]+", txt.lower()) if t]
            for i, txt in rows}
    first = {}
    for i in sorted(toks):
        l = toks[i]
        for p in range(max(0, len(l) - k + 1)):
            g = " ".join(l[p:p + k])
            first.setdefault(g, (i, p))
    out = {}
    for i in sorted(toks):
        l = toks[i]
        cut = set()
        for p in range(max(0, len(l) - k + 1)):
            g = " ".join(l[p:p + k])
            if len(l) >= k and first[g] != (i, p):
                cut.update(range(p, p + k))
        kept = [t for j, t in enumerate(l) if j not in cut]
        # island count: runs of consecutive cut positions
        spans = 0
        prev = -2
        for j in sorted(cut):
            if j > prev + 1:
                spans += 1
            prev = j
        out[i] = (" ".join(kept), len(l), len(cut), spans)
    return out


def test_remove_duplicate_spans_matches_reference(spark):
    from website_to_agent_spark.operators import curation

    rng = random.Random(20260817)
    rows = []
    for i in range(120):
        n = rng.randint(0, 40)
        # 3-token alphabet + k=3 makes repeats, overlaps and intra-doc
        # duplicates dense; sprinkle punctuation to stress tokenizing
        rows.append((i, " ".join(
            rng.choice(["aa", "bb", "cc", "aa,", "BB"])
            for _ in range(n))))
    want = _span_dedup_reference(rows, k=3)
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.text, r.n_tokens, r.n_tokens_removed,
                      r.n_spans_removed)
           for r in curation.remove_duplicate_spans(df, k=3).collect()}
    assert got == want


def test_dsir_importance_matches_reference(spark):
    """dsir_importance vs a literal numpy-free Python mirror (same md5
    bucketing, Laplace smoothing, ln arithmetic) on a random corpus."""
    import hashlib
    import math

    from website_to_agent_spark.operators import sampling

    rng = random.Random(20260818)
    vocab = ["red", "blue", "fish", "law", "tax", "sauce", "roast"]
    rows = [(i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 12))))
            for i in range(80)]
    tgt_rows = [r for r in rows if r[0] % 7 == 0]
    B, s, n = 64, 1.0, 2

    def grams(txt):
        l = [t for t in re.split(r"[^a-z0-9]+", txt.lower()) if t]
        if len(l) >= n:
            return [" ".join(l[i:i + n]) for i in range(len(l) - n + 1)]
        return [" ".join(l)]

    def bucket(g):
        return int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % B

    raw, tgt = {}, {}
    for i, txt in rows:
        for g in grams(txt):
            raw[bucket(g)] = raw.get(bucket(g), 0) + 1
    for i, txt in tgt_rows:
        for g in grams(txt):
            tgt[bucket(g)] = tgt.get(bucket(g), 0) + 1
    rtot, ttot = float(sum(raw.values())), float(sum(tgt.values()))
    lr = {b: math.log((tgt.get(b, 0) + s) / (ttot + s * B))
          - math.log((rc + s) / (rtot + s * B)) for b, rc in raw.items()}
    want = {}
    for i, txt in rows:
        gs = grams(txt)
        want[i] = (len(gs), round(sum(lr[bucket(g)] for g in gs), 6))

    df = spark.createDataFrame(rows, "doc_id long, text string")
    tdf = df.filter(F.col("doc_id") % 7 == 0)
    got = {r.doc_id: (r.n_grams, round(r.log_weight, 6))
           for r in sampling.dsir_importance(df, tdf, n=n, buckets=B).collect()}
    assert got == want


def test_resolve_redirects_matches_python_walker(spark):
    """Random edge maps (chains, cycles, dangling targets, self-loops):
    resolve_redirects == a pure-Python chain walker with the same
    settlement rule (follow up to max_hops edges; ok ⟺ the landing
    url has no outgoing edge)."""
    from website_to_agent_spark.operators import redirects as rd

    rng = random.Random(20260818)
    n, max_hops = 120, 4
    urls = [f"https://p{i}.test/x" for i in range(n)]
    edges = {}
    for i, u in enumerate(urls):
        r = rng.random()
        if r < 0.45:
            edges[u] = urls[rng.randrange(n)]      # may chain or cycle
        elif r < 0.5:
            edges[u] = u                            # self-loop
        elif r < 0.55:
            edges[u] = f"https://gone{i}.test/"     # dangling target

    def walk(u):
        cur, hops = u, 0
        while hops < max_hops and cur in edges:
            cur = edges[cur]
            hops += 1
        return cur, hops, cur not in edges

    want = {u: walk(u) for u in urls}

    pages = spark.createDataFrame(
        [(u, edges.get(u)) for u in urls], "url string, redirect_to string"
    )
    res = rd.resolve_redirects(
        spark.createDataFrame([(u,) for u in urls], "url string"),
        rd.redirect_edges(pages),
        max_hops=max_hops,
    )
    got = {r.url: (r.final_url, r.n_hops, r.redirect_ok)
           for r in res.collect()}
    assert got == want
    # the whole-store form (materialized edge table) agrees
    got2 = {r.url: (r.final_url, r.n_hops, r.redirect_ok)
            for r in rd.final_destinations(pages, max_hops=max_hops).collect()}
    assert got2 == want


def test_revalidate_matches_python_mirror(spark):
    """Random snapshot/store pairs: revalidate's statuses equal a
    Python dict mirror for every url (gone/modified/not_modified)."""
    import hashlib

    from website_to_agent_spark.operators import recrawl

    rng = random.Random(20260818)
    urls = [f"https://r{i}.test/p" for i in range(150)]
    store = {}
    for u in urls:
        if rng.random() < 0.8:                     # 20% gone
            store[u] = _rand_text(rng, 1, 60).encode()
    snaps = []
    for u in urls:
        if u in store and rng.random() < 0.6:      # unchanged
            d = hashlib.md5(store[u]).hexdigest()
        else:                                       # stale or gone
            d = hashlib.md5(_rand_text(rng, 1, 20).encode()).hexdigest()
        snaps.append((u, d))

    def mirror(u, d):
        if u not in store:
            return "gone"
        return ("not_modified"
                if hashlib.md5(store[u]).hexdigest() == d else "modified")

    want = {u: mirror(u, d) for u, d in snaps}
    sdf = spark.createDataFrame(snaps, "url string, digest string")
    pdf = spark.createDataFrame(
        [(u, h) for u, h in store.items()], "url string, html binary"
    )
    got = {r.url: r.status
           for r in recrawl.revalidate(sdf, pdf).collect()}
    assert got == want


def test_focused_scores_matches_python_mirror(spark):
    """Random anchor edges: focused_scores equals the documented
    formula computed in Python (sum over anchors of
    n_match / (n_tok + shrink))."""
    from website_to_agent_spark.operators import linkgraph
    from website_to_agent_spark.operators.bm25 import query_terms

    rng = random.Random(20260817)
    words = ["spark", "tutorial", "data", "cats", "misc", "guide"]
    edges = []
    for i in range(200):
        dst = f"https://d{i % 37}.test/"
        anchor = " ".join(rng.choice(words)
                          for _ in range(rng.randint(0, 6)))
        edges.append((f"https://s{i}.test/", dst, anchor))
    q = "spark tutorial"
    terms = set(query_terms(q))

    want = {}
    for _, dst, anchor in edges:
        toks = [t for t in re.split("[^a-z0-9]+", anchor.lower()) if t]
        n_match = sum(1 for t in toks if t in terms)
        want[dst] = want.get(dst, 0.0) + n_match / (len(toks) + 1.0)

    df = spark.createDataFrame(edges, "src string, dst string, anchor string")
    got = {r.url: r.score
           for r in linkgraph.focused_scores(df, q).collect()}
    assert set(got) == set(want)
    for u in want:
        assert abs(got[u] - want[u]) < 1e-9, (u, got[u], want[u])


def test_repetition_arrow_equals_sql_on_random_text(spark):
    """The r5 map-only Arrow repetition kernel and the retained
    pure-column (DuckDB-oracle-mirror) form agree EXACTLY on seeded
    adversarial text: unicode that changes length under lowercasing
    (İ), repeated-phrase injections (dense top/dup n-gram hits),
    whitespace runs, and token-free rows. The kernel feeds the
    gopher_quality contract row, so any drift here is a driver-visible
    hash mismatch."""
    rng = random.Random(20260818)
    phrases = ["spam and eggs", "lorem ipsum dolor", "x1 y2", "İİ ß…"]
    alphabet = (string.ascii_letters + string.digits
                + " \n\t.,!?#*-_()&;:/" + "äöéİß€… ")
    rows = []
    for i in range(250):
        parts = []
        for _ in range(rng.randint(0, 8)):
            if rng.random() < 0.5:
                parts.append(rng.choice(phrases)
                             * rng.randint(1, 4))
            else:
                n = rng.randint(0, 60)
                parts.append("".join(rng.choice(alphabet)
                                     for _ in range(n)))
        rows.append((i, "  ".join(parts) if parts
                     else rng.choice([None, "", "   "])))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = {r.doc_id: tuple(r)
         for r in webtext.repetition_metrics(df).collect()}
    s = {r.doc_id: tuple(r)
         for r in webtext.repetition_metrics(df, impl="sql").collect()}
    assert a == s
