"""Operator-level tests: BM25, dedup family, ANN, text quality,
bloom prefilter, politeness drain."""

import math

import pytest
from pyspark.sql import functions as F

from website_to_agent_spark.operators import ann, bloom, bm25, dedupe, politeness
from website_to_agent_spark.operators import textquality as tq

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").localCheckpoint()


# --------------------------------------------------------------- BM25
def _py_bm25(texts: dict, query: str, k1=bm25.K1, b=bm25.B):
    import re

    tok = {d: [t for t in re.split("[^a-z0-9]+", s.lower()) if t]
           for d, s in texts.items()}
    n = len(tok)
    avgdl = sum(len(v) for v in tok.values()) / max(n, 1)
    terms = [t for t in re.split("[^a-z0-9]+", query.lower()) if t]
    raw = {}
    for d, toks in tok.items():
        s = 0.0
        for t in set(terms):
            tf = toks.count(t)
            if tf == 0:
                continue
            df = sum(1 for v in tok.values() if t in v)
            idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
            s += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(toks) / avgdl))
        raw[d] = s
    lo, hi = min(raw.values()), max(raw.values())
    return {d: (v - lo) / (hi - lo) if hi > lo else 0.0 for d, v in raw.items()}


def test_bm25_matches_sequential(spark, docs):
    query = "the quick data pipeline"
    got = {r.doc_id: r.score for r in
           bm25.bm25_scores(docs, query).collect()}
    texts = {r.doc_id: r.text for r in docs.select("doc_id", "text").collect()}
    want = _py_bm25(texts, query)
    assert set(got) == set(want)
    for d in got:
        assert abs(got[d] - want[d]) < 1e-9, d
    assert 0.0 <= min(got.values()) and max(got.values()) <= 1.0


def test_bm25_empty_query_all_zero(spark, docs):
    got = bm25.bm25_scores(docs, "  ").agg(F.max("score")).first()[0]
    assert got == 0.0


def test_bm25_deterministic(spark, docs):
    a = sorted(map(tuple, bm25.bm25_rank(docs, "data model", limit=10).collect()))
    b = sorted(map(tuple, bm25.bm25_rank(docs, "data model", limit=10).collect()))
    assert a == b


# -------------------------------------------------------------- dedup
@pytest.fixture(scope="module")
def dup_docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again"
    near = "the quick brown fox jumps over the lazy cat again and again"
    rows = [
        (1, base), (2, base), (3, near),
        (4, "completely different content about spark partitions and shuffles"),
        (5, base + " tail"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_duplicates(spark, dup_docs):
    groups = dedupe.exact_duplicates(dup_docs).collect()
    assert len(groups) == 1
    assert groups[0].doc_ids == [1, 2]


def test_minhash_lsh_finds_near_dups(spark, dup_docs):
    pairs = {
        (r.doc_a, r.doc_b)
        for r in dedupe.minhash_lsh_pairs(
            dup_docs, n_hashes=32, bands=16, threshold=0.5
        ).collect()
    }
    assert (1, 2) in pairs          # identical
    assert (1, 3) in pairs or (2, 3) in pairs  # near-dup
    assert not any(4 in p for p in pairs)

    # the md5 (oracle-mirrorable) variant is the same algorithm under a
    # different base hash: identical docs score 1.0 in both, and the
    # hard negatives stay out
    md5_pairs = {
        (r.doc_a, r.doc_b): r.est_jaccard
        for r in dedupe.minhash_lsh_pairs(
            dup_docs, n_hashes=32, bands=16, threshold=0.5, hash_fn="md5"
        ).collect()
    }
    assert md5_pairs[(1, 2)] == 1.0
    assert not any(4 in p for p in md5_pairs)


def test_dedup_against_exact_incremental(spark, dup_docs):
    prior = dup_docs.filter(F.col("doc_id") <= 2)      # holds base text
    batch = spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog again and again"),
         (11, "fresh content that no prior snapshot has seen before"),
         (12, "fresh content that no prior snapshot has seen before"),
         (13, "another genuinely new document body entirely")],
        "doc_id long, text string",
    )
    seen = dedupe.exact_digests(prior)
    surv, updated = dedupe.dedup_against_exact(batch, seen)
    ids = sorted(r.doc_id for r in surv.collect())
    # 10 dups prior, 12 loses the within-batch election to 11
    assert ids == [11, 13]
    assert surv.columns == ["doc_id", "text"]
    # state grew by exactly the survivors' digests
    assert updated.count() == seen.count() + 2
    # replaying the SAME batch against the updated state drops everything
    surv2, updated2 = dedupe.dedup_against_exact(batch, updated)
    assert surv2.count() == 0
    assert updated2.count() == updated.count()


def test_dedup_against_bands_incremental(spark, dup_docs):
    base = "the quick brown fox jumps over the lazy dog again and again"
    near = "the quick brown fox jumps over the lazy rat again and again"
    prior = dup_docs.filter(F.col("doc_id") == 1)      # base text only
    batch = spark.createDataFrame(
        [(20, base),                                    # exact → band hit
         (21, near),                                    # near-dup → band hit
         (22, "completely unrelated prose about window functions and"
              " watermark semantics in structured streaming")],
        "doc_id long, text string",
    )
    state = dedupe.minhash_band_state(prior, bands=16)
    surv, updated = dedupe.dedup_against_bands(batch, state, bands=16)
    assert [r.doc_id for r in surv.collect()] == [22]
    # updated state gains only the survivor's keys and dedups replays
    surv2, _ = dedupe.dedup_against_bands(batch, updated, bands=16)
    assert surv2.count() == 0
    assert updated.count() <= state.count() + 16


def test_ngram_jaccard(spark, dup_docs):
    pairs = {(r.doc_a, r.doc_b): r.jaccard
             for r in dedupe.ngram_jaccard_pairs(dup_docs, threshold=0.5).collect()}
    assert pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs
    assert not any(4 in p for p in pairs)


def test_ngram_jaccard_max_df_cap(spark):
    """The stop-shingle cap: near-identical docs stay found with their
    EXACT jaccard (intersection recomputed over full shingle sets),
    while a ubiquitous boilerplate shingle stops generating candidate
    pairs between unrelated docs."""
    boiler = "all rights reserved worldwide"
    rows = [
        (1, f"alpha beta gamma delta epsilon zeta {boiler}"),
        (2, f"alpha beta gamma delta epsilon zeta {boiler}"),   # dup of 1
        *[(10 + i, f"unique{i} words{i} only{i} here{i} {boiler}")
          for i in range(8)],                                    # unrelated
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    capped = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedupe.ngram_jaccard_pairs(
            docs, threshold=0.5, max_df=3).collect()
    }
    uncapped = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedupe.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    # the true dup survives with an identical exact score
    assert capped[(1, 2)] == uncapped[(1, 2)] == 1.0
    # boilerplate-only overlaps never reached threshold in either mode
    assert capped == uncapped


def test_banded_candidate_pairs_max_bucket(spark):
    """Mega-bucket bound (r3 verdict ask #4): a pathological band
    bucket of B identical keys must expand to at most
    max_bucket·(max_bucket-1)/2 pairs — never B(B-1)/2 — and the drop
    is observable (never silent) via the Observation metrics that fire
    with the same action that consumes the pairs."""
    from pyspark.sql import Observation

    B, cap = 40, 8
    banded = spark.createDataFrame(
        [(i, i * 11, 0, 7) for i in range(B)]
        + [(100, 1100, 1, 8), (101, 1111, 1, 8)],  # a healthy bucket
        "doc_id long, v long, band_id int, band_key long",
    )
    obs = Observation("drops")
    pairs = dedupe.banded_candidate_pairs(
        banded, "doc_id", "v", max_bucket=cap, drop_metrics=obs
    ).collect()
    got = {(r.doc_a, r.doc_b) for r in pairs}
    # truncation is deterministic in id order: exactly the first `cap`
    # members of the mega-bucket pair up, plus the healthy bucket
    want = {(a, b) for a in range(cap) for b in range(a + 1, cap)}
    want.add((100, 101))
    assert got == want
    assert obs.get["oversized_buckets"] == 1
    assert obs.get["dropped_members"] == B - cap
    # uncapped mode (max_bucket=None) still yields the full expansion
    full = dedupe.banded_candidate_pairs(
        banded, "doc_id", "v", max_bucket=None
    ).count()
    assert full == B * (B - 1) // 2 + 1


def test_simhash_across_arrow_batches(spark, dup_docs):
    """The kernel's token-hash memo resets per Arrow batch; splitting
    one partition into 2-row batches leaves every fingerprint as is."""
    docs = dup_docs.coalesce(1)
    want = sorted(dedupe.simhash_append(docs).collect())
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        got = sorted(dedupe.simhash_append(docs).collect())
    finally:
        spark.conf.set(key, old)
    assert got == want and len(got) == 5


def test_simhash_near_pairs(spark, dup_docs):
    fps = {r.doc_id: r.simhash for r in dedupe.simhash(dup_docs).collect()}
    assert fps[1] == fps[2]
    pairs = {(r.doc_a, r.doc_b)
             for r in dedupe.simhash_near_pairs(dup_docs, max_hamming=8).collect()}
    assert (1, 2) in pairs
    assert (1, 4) not in pairs


# ---------------------------------------------------------------- ANN
@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").localCheckpoint()


def test_cosine_topk_matches_numpy(spark, emb):
    import numpy as np

    rows = emb.collect()
    queries = spark.createDataFrame(
        [(int(rows[0].vec_id), list(rows[0].embedding))],
        "q_id long, q_vec array<float>",
    )
    got = ann.cosine_topk(emb, queries, k=5).orderBy("rank").collect()
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    q = np.array(rows[0].embedding, dtype=np.float64)
    sims = mat @ q / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
    ids = np.array([r.vec_id for r in rows])
    order = sorted(zip(-sims, ids))
    want = [int(i) for _, i in order[:5]]
    assert [r.vec_id for r in got] == want
    assert got[0].vec_id == rows[0].vec_id  # self is most similar
    assert abs(got[0].cos_sim - 1.0) < 1e-9


def test_lsh_topk_recall(spark, emb):
    rows = emb.limit(8).collect()
    dim = len(rows[0].embedding)
    queries = spark.createDataFrame(
        [(int(r.vec_id), list(r.embedding)) for r in rows[:3]],
        "q_id long, q_vec array<float>",
    )
    exact = ann.cosine_topk(emb, queries, k=3)
    approx = ann.lsh_topk(emb, queries, dim=dim, k=3, n_bits=6, probe_hamming=1)
    # self-hit must always be found (same bucket by construction)
    self_hits = approx.filter(F.col("q_id") == F.col("vec_id")).count()
    assert self_hits == 3
    # recall vs exact should be nontrivial
    e = {(r.q_id, r.vec_id) for r in exact.collect()}
    a = {(r.q_id, r.vec_id) for r in approx.collect()}
    assert len(e & a) / len(e) >= 0.5


# ------------------------------------------------------- text quality
def test_token_estimate_and_trim(spark):
    df = spark.createDataFrame([("x" * 100,)], "text string")
    assert df.select(tq.token_estimate("text").alias("t")).first().t == 25
    long = spark.createDataFrame([("abcdefgh " * 2000,)], "text string")
    out = long.select(tq.trim_intelligently(F.col("text"), 100).alias("t")).first().t
    assert "[... CONTENT TRIMMED FOR ANALYSIS ...]" in out
    # python reference
    import re as _re
    s = "abcdefgh " * 2000
    mc = 400
    c = _re.sub(r"\n\s*\n\s*\n+", "\n\n", s)
    c = _re.sub(r" +", " ", c)
    beg, mid_c, end_c = int(mc * .6), int(mc * .2), int(mc * .2)
    ms = len(c) // 2 - mid_c // 2
    want = f"{c[:beg]}\n\n[... CONTENT TRIMMED FOR ANALYSIS ...]\n\n{c[ms:ms+mid_c]}\n\n[... CONTENT TRIMMED FOR ANALYSIS ...]\n\n{c[-end_c:]}"
    assert out == want


def test_sanitize_matches_reference(spark):
    import re as _re
    samples = [
        "<div id='x'>Hello &amp; <b>world</b></div> {attr} [link](http://a) |t| --- # H\n## H2\nplain ok.",
        "unicode ü é § text \x01\x02 with *stars* and `code`",
        "",
        "a" * 3500,
    ]

    def ref(content):
        if not content:
            return ""
        content = str(content)
        content = _re.sub(r"<[^>]*?>", " ", content)
        content = _re.sub(r"&[a-zA-Z0-9#]+;", " ", content)
        content = _re.sub(r"<!(?:DOCTYPE|--)[^>]*>", " ", content)
        content = _re.sub(r":::[^:]*?:::", " ", content, flags=_re.DOTALL)
        content = _re.sub(r"\{[^}]*\}", " ", content)
        content = _re.sub(r"\[[^\]]*\](?:\([^)]*\))?", " ", content)
        content = _re.sub(r"---+", " ", content)
        content = _re.sub(r"\|[^|]*\|", " ", content)
        content = _re.sub(r"^#+\s*", "", content, flags=_re.MULTILINE)
        content = _re.sub(r"[<>{}\\|`~\[\]()_*#@$%^&+=]", " ", content)
        content = _re.sub(r"[\x00-\x1F\x7F-\x9F]", " ", content)
        content = _re.sub(r"[^\x20-\x7E]", " ", content)
        content = _re.sub(r"[^\w\s]{2,}", " ", content)
        content = _re.sub(r"\s+", " ", content)
        content = content.strip()
        if len(content) > 3000:
            content = content[:3000] + " (truncated)"
        content = _re.sub(r"[^a-zA-Z0-9\s.,!?:-]", " ", content)
        content = _re.sub(r"\s+", " ", content).strip()
        return content if content else "Content processed safely"

    df = spark.createDataFrame([(s,) for s in samples], "text string")
    got = [r.s for r in df.select(tq.sanitize_markdown(F.col("text")).alias("s")).collect()]
    want = [ref(s) if s else "Content processed safely" for s in samples]
    assert got == want


def test_key_topics_reference_semantics(spark):
    text = ("sparkly sparkly sparkly partition partition shuffle "
            "which which which this that with")
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    top = [r.word for r in tq.key_topics(df, k=3).collect()]
    # 'which' is a stop word; len>4 filter drops 4-char words
    assert top[0] == "sparkly" and top[1] == "partition"
    assert "which" not in top and "this" not in top


def test_lang_id_and_quality(spark, docs):
    # testdata `lang` is random metadata (text is synthetic word salad),
    # so discrimination is checked on real sentences:
    samples = spark.createDataFrame(
        [
            ("en", "the cat sat on the mat and the dog was in the house for the night"),
            ("es", "el perro y la casa de los niños en la calle por la mañana"),
            ("de", "der Hund und die Katze sind mit dem Mann in das Haus von Berlin"),
            ("und", "zzz qqq xxx yyy www"),
        ],
        "want string, text string",
    )
    got = samples.select("want", tq.lang_id(F.col("text")).alias("pred")).collect()
    assert all(r.pred == r.want for r in got), got
    # quality score bounded on real docs
    rows = docs.select(tq.quality_score(F.col("text")).alias("q")).collect()
    assert all(0.0 <= r.q <= 1.0 for r in rows)


# ------------------------------------------------------ bloom + polite
def test_bloom_prefilter_exactness(spark):
    seen = spark.createDataFrame(
        [("d.com", f"https://d.com/p/{i}") for i in range(200)],
        "reg_domain string, url string",
    )
    blooms = bloom.build_blooms(seen, n_bits=1 << 14, k=5)
    cands = spark.createDataFrame(
        [("d.com", f"https://d.com/p/{i}") for i in range(150, 350)]
        + [("e.com", "https://e.com/x")],
        "reg_domain string, url string",
    )
    out = bloom.bloom_anti_join(
        cands, seen, blooms, join_keys=["reg_domain", "url"],
        n_bits=1 << 14, k=5,
    )
    got = {r.url for r in out.collect()}
    want = {f"https://d.com/p/{i}" for i in range(200, 350)} | {"https://e.com/x"}
    assert got == want  # no FP-induced drops, no misses


def test_add_to_blooms_single_pass_identical(spark):
    """The r4 single-cogroup fold must be byte-identical to the
    two-pass merge_blooms(table, build_blooms(delta)) it replaces —
    including fresh keys absent from the table."""
    seen = spark.createDataFrame(
        [("d.com", f"https://d.com/p/{i}") for i in range(50)],
        "reg_domain string, url string",
    )
    delta = spark.createDataFrame(
        [("d.com", f"https://d.com/p/{i}") for i in range(40, 80)]
        + [("new.com", "https://new.com/a")],
        "reg_domain string, url string",
    )
    base = bloom.build_blooms(seen, n_bits=1 << 12, k=5)
    two_pass = {
        r.reg_domain: bytes(r.bloom)
        for r in bloom.merge_blooms(
            base, bloom.build_blooms(delta, n_bits=1 << 12, k=5)
        ).collect()
    }
    one_pass = {
        r.reg_domain: bytes(r.bloom)
        for r in bloom.add_to_blooms(base, delta, n_bits=1 << 12,
                                     k=5).collect()
    }
    assert one_pass == two_pass
    assert "new.com" in one_pass
    # and membership still holds for both old and delta urls
    probed = bloom.probe_blooms(
        delta, bloom.add_to_blooms(base, delta, n_bits=1 << 12, k=5),
        n_bits=1 << 12, k=5,
    )
    assert probed.filter(~F.col("maybe_seen")).count() == 0


def test_polite_drain_quota(spark):
    frontier = spark.createDataFrame(
        [(f"https://hot.com/{i}", i) for i in range(20)]
        + [(f"https://cold.com/{i}", 100 + i) for i in range(3)],
        "url string, ord long",
    )
    robots = spark.createDataFrame(
        [("hot.com", ["/admin"], 0.5), ("cold.com", [], 0.1)],
        "host string, disallow array<string>, crawl_delay double",
    )
    batch, leftover = politeness.polite_drain(
        frontier, robots, superstep_secs=2.0
    )
    hot = batch.filter(F.col("url").contains("hot")).count()
    cold = batch.filter(F.col("url").contains("cold")).count()
    assert hot == 4          # 2.0 / 0.5
    assert cold == 3         # quota 20 > available 3
    assert leftover.count() == 16
    # drained in ord order
    assert {r.ord for r in batch.filter(F.col("url").contains("hot")).collect()} == {0, 1, 2, 3}


def test_robots_filter(spark):
    frontier = spark.createDataFrame(
        [("https://hot.com/admin/x",), ("https://hot.com/ok",),
         ("https://nobots.com/a",)],
        "url string",
    )
    robots = spark.createDataFrame(
        [("hot.com", ["/admin"], 0.5)],
        "host string, disallow array<string>, crawl_delay double",
    )
    got = {r.url for r in politeness.robots_filter(frontier, robots).collect()}
    assert got == {"https://hot.com/ok", "https://nobots.com/a"}


def test_embedding_near_dups(spark, emb):
    from pyspark.sql import functions as F

    dup = emb.filter(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 1000).alias("vec_id"), "embedding", "label"
    )
    corpus = emb.unionByName(dup)
    exact = ann.embedding_near_dups(corpus, threshold=0.999)
    pairs = {(r.doc_a, r.doc_b) for r in exact.collect()}
    for i in range(5):
        assert (i, i + 1000) in pairs
    # LSH-bucketed variant still finds exact copies (same bucket)
    dim = len(emb.select("embedding").first().embedding)
    lsh = ann.embedding_near_dups(corpus, threshold=0.999, n_bits=8, dim=dim)
    lpairs = {(r.doc_a, r.doc_b) for r in lsh.collect()}
    for i in range(5):
        assert (i, i + 1000) in lpairs


def test_ivf_topk_self_hit_and_recall(spark, emb):
    from pyspark.sql import functions as F

    dim = len(emb.select("embedding").first().embedding)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    exact = ann.cosine_topk(emb, queries, k=5)
    ivf = ann.ivf_topk(emb, queries, dim=dim, k=5, n_centroids=8, n_probe=4)
    self_hits = ivf.filter(F.col("q_id") == F.col("vec_id")).count()
    assert self_hits == 3
    e = {(r.q_id, r.vec_id) for r in exact.collect()}
    a = {(r.q_id, r.vec_id) for r in ivf.collect()}
    assert len(e & a) / len(e) >= 0.4


def test_polite_drain_slow_host_skips_supersteps(spark):
    """A host whose Crawl-delay exceeds the superstep budget is drained
    once every ceil(delay/secs) supersteps — never once per superstep
    (which would fetch it delay/secs x too fast)."""
    frontier = spark.createDataFrame(
        [(f"https://slow.com/{i}", i) for i in range(5)],
        "url string, ord long",
    )
    robots = spark.createDataFrame(
        [("slow.com", [], 10.0)],
        "host string, disallow array<string>, crawl_delay double",
    )
    drained = []
    for step in range(20):
        batch, _ = politeness.polite_drain(
            frontier, robots, superstep_secs=1.0, superstep=step
        )
        drained.append(batch.count())
    # period = ceil(10/1) = 10: exactly steps 0 and 10 drain one URL
    assert drained == [1 if s % 10 == 0 else 0 for s in range(20)]


def test_ivf_topk_high_recall_on_clustered_data(spark):
    """On data with real cluster structure (the testdata embeddings are
    near-random — avg pairwise cosine ~0.0003 — where no bucketing
    method can beat brute force), IVF with stride centroids reaches
    >=0.9 recall vs the exact top-k: 10 tight clusters, one centroid
    list each, probe 3."""
    import random as _r

    rng = _r.Random(7)
    dim, n_clusters, per = 16, 10, 40
    protos = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(n_clusters)]
    rows = []
    for i in range(n_clusters * per):
        p = protos[i % n_clusters]
        rows.append((i, [x + rng.gauss(0, 0.05) for x in p]))
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = corpus.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    exact = {(r.q_id, r.vec_id) for r in ann.cosine_topk(corpus, queries, k=10).collect()}
    ivf = {(r.q_id, r.vec_id)
           for r in ann.ivf_topk(corpus, queries, dim=dim, k=10,
                                 n_centroids=10, n_probe=3).collect()}
    assert len(exact & ivf) / len(exact) >= 0.9


def test_embedding_near_dups_bucketed_equals_exact(spark, emb):
    """Multi-table LSH near-dup path finds the same >=0.99-cosine pairs
    as the exact all-pairs baseline on the testdata embeddings ∪ exact
    copies (bloom-equivalence pattern)."""
    from pyspark.sql import functions as F

    dup = emb.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    corpus = emb.select("vec_id", "embedding").unionByName(dup)
    exact = {(r.doc_a, r.doc_b)
             for r in ann.embedding_near_dups(corpus, threshold=0.99, n_bits=0).collect()}
    dim = len(emb.select("embedding").first().embedding)
    bucketed = {(r.doc_a, r.doc_b)
                for r in ann.embedding_near_dups(
                    corpus, threshold=0.99, n_bits=8, dim=dim, n_tables=4
                ).collect()}
    assert exact == bucketed and len(exact) >= 10


def test_embedding_near_dups_auto_guard(spark, emb):
    """Default n_bits=None: small corpora take the exact path; corpora
    over the guard take the bucketed path (never silent O(n^2))."""
    small = emb.select("vec_id", "embedding")
    exact = ann.embedding_near_dups(small, threshold=0.99)
    bucketed = ann.embedding_near_dups(small, threshold=0.99, exact_max_rows=10)
    # same pairs either way on this corpus (exact copies only)
    assert ({(r.doc_a, r.doc_b) for r in exact.collect()}
            == {(r.doc_a, r.doc_b) for r in bucketed.collect()})


def test_llm_map_retry_with_trim(spark):
    """T4: attempt 1 sends the RAW text (the reference's full-content
    first call — a doc between schedule[0]*4 chars and the window must
    NOT lose its middle); retries use progressively smaller 60/20/20
    trims of the ORIGINAL text; rows that never fit come back ok=false
    with the attempt count."""
    from website_to_agent_spark.operators import llm

    docs = spark.createDataFrame(
        [
            (1, "short enough"),   # fits attempt 1 (raw)
            (2, "x" * 299),        # fits RAW (299 ≤ 300 window)
            (3, "x" * 350),        # raw fails; trim(100) identity (350≤400) fails; trim(50) → 288 fits
            (4, "y" * 5000),       # raw fails; trim(100) → 488 fails; trim(50) → 288 fits
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in llm.llm_map(
        docs, llm.DeterministicEndpoint(max_chars=300),
        max_tokens_schedule=(100, 50),
    ).collect()}
    assert out[1].ok and out[1].attempts == 1
    assert out[1].completion == "OK(12):short enough"
    # the key regression: 299 chars > trim(50) budget but ≤ the window
    # — must succeed UNTRIMMED on attempt 1
    assert out[2].ok and out[2].attempts == 1
    assert out[2].completion == f"OK(299):{'x' * 40}"
    assert out[3].ok and out[3].attempts == 3
    assert out[4].ok and out[4].attempts == 3
    # an endpoint nothing fits: every row exhausts raw + the schedule
    tiny = llm.DeterministicEndpoint(max_chars=1)
    out2 = {r.doc_id: r for r in llm.llm_map(
        docs, tiny, max_tokens_schedule=(100, 50)).collect()}
    assert all(not r.ok and r.attempts == 3 and r.completion == ""
               for r in out2.values())


def test_pii_scrub_and_canonical_url(spark):
    from website_to_agent_spark.functions import urlfns
    from website_to_agent_spark.operators import webtext

    df = spark.createDataFrame(
        [("Mail a.b-c@x-y.co.uk, ip 192.168.1.5, call +44 7700 900123 now",)],
        "text string",
    )
    got = df.select(webtext.pii_scrub(F.col("text")).alias("c")).first().c
    assert "<EMAIL>" in got and "<IP>" in got and "<PHONE>" in got
    assert "a.b-c@" not in got and "192.168" not in got and "900123" not in got

    # phone shapes redact; dates/timestamps/grouped numbers/versions
    # survive (the round-2 PHONE_RE ate them — overscrub regression)
    cases = [
        ("call 555-123-4567", False), ("(555) 123-4567 x9", False),
        ("dial 555.123.4567", False), ("+1-800-555-0199", False),
        ("+12025550123", False),
        ("shipped 2025-01-01", True), ("at 2025-01-01 12:30:45", True),
        ("price 1 000 000 USD", True), ("pop. 1,234,567", True),
        ("in Q4 2025 rev 12 345", True), ("build 2024.06.30", True),
    ]
    pii_df = spark.createDataFrame([(t,) for t, _ in cases], "text string")
    scrubbed = [
        r.c for r in pii_df.select(
            webtext.pii_scrub(F.col("text")).alias("c")).collect()
    ]
    for (orig, keep), out in zip(cases, scrubbed):
        if keep:
            assert out == orig, f"overscrubbed: {orig!r} -> {out!r}"
        else:
            assert "<PHONE>" in out, f"missed phone: {orig!r} -> {out!r}"

    urls = spark.createDataFrame(
        [
            ("https://Docs.Example.com:443/d/1.html?utm_source=x&b=2&a=1#frag",),
            ("https://docs.example.com/d/1.html?a=1&b=2",),
            ("HTTP://Host.com:80",),
            ("https://host.com:8443/p?gclid=1&z=9",),
            ("https://github.com/o/r/tree?ref=main",),
        ],
        "url string",
    )
    got = [r.c for r in urls.select(
        urlfns.canonical_url(F.col("url")).alias("c")).collect()]
    assert got[0] == "https://docs.example.com/d/1.html?a=1&b=2"
    assert got[1] == got[0]
    assert got[2] == "http://host.com/"          # default port + empty path
    assert got[3] == "https://host.com:8443/p?z=9"  # non-default port kept
    # `ref` is load-bearing (selects different content on real sites) —
    # it must SURVIVE canonicalization, not be stripped as tracking
    assert got[4] == "https://github.com/o/r/tree?ref=main"


def test_gopher_quality_gates(spark):
    from website_to_agent_spark.operators import webtext

    good = " ".join(f"sentence number {i} reads fine" for i in range(20))
    repeated = "\n".join(["the same line again"] * 30)
    bullets = "\n".join(f"- item {i}" for i in range(30))
    df = spark.createDataFrame(
        [("good", good), ("dup", repeated), ("bullets", bullets)],
        "id string, text string",
    )
    out = {r.id: r.ok for r in df.select(
        "id", webtext.gopher_quality_ok(F.col("text")).alias("ok")).collect()}
    assert out["good"] is True
    assert out["dup"] is False       # duplicate-line fraction ~0.97
    assert out["bullets"] is False   # bullet fraction 1.0


def test_gopher_paragraph_and_line_char_metrics(spark):
    from website_to_agent_spark.operators import webtext

    # 3 paragraphs ("para one", "para one", "line a\nline a"), one
    # duplicated: dup_para_frac = 1/3; para chars 8+8+13=29, dup
    # chars = 8 → dup_para_char_frac = 8/29.
    text = "para one\n\npara one\n\nline a\nline a"
    df = spark.createDataFrame([(text,)], "text string")
    m = webtext.gopher_metrics(F.col("text"))
    r = df.select(
        m["dup_para_frac"].alias("dpf"),
        m["dup_para_char_frac"].alias("dpcf"),
        m["dup_line_frac"].alias("dlf"),
        m["dup_line_char_frac"].alias("dlcf"),
    ).first()
    assert r.dpf == round(1 / 3, 6)
    assert r.dpcf == round(8 / 29, 6)
    # lines: [para one, para one, line a, line a] → 2 dups of 4
    assert r.dlf == 0.5
    assert r.dlcf == round(14 / 28, 6)


def test_c4_line_cleaning_and_page_gate(spark):
    from website_to_agent_spark.operators import webtext

    text = "\n".join([
        "This sentence ends with terminal punctuation correctly.",  # keep
        "no terminal punctuation on this line here",                # drop
        "Too short.",                                               # drop
        "This line mentions JavaScript and still has words.",       # drop
        'A quoted sentence can end with a quote mark."',            # keep
    ])
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    cleaned = df.select(
        webtext.c4_clean_lines(F.col("text")).alias("t"),
        webtext.c4_page_ok(webtext.c4_clean_lines(F.col("text")))
        .alias("ok"),
    ).first()
    kept = cleaned.t.split("\n")
    assert len(kept) == 2
    assert kept[0].startswith("This sentence ends")
    assert kept[1].startswith("A quoted")
    # only 2 sentences survive → page gate fails the 3-sentence rule
    assert cleaned.ok is False
    three = ("One full sentence sits right here. Another one follows"
             " directly after. And a third closes the paragraph.")
    probes = spark.createDataFrame(
        [("three", three),
         ("brace", three + "\nThis code snippet contains a { brace today."),
         ("lorem", three + "\nLorem ipsum dolor sit amet is filler text.")],
        "id string, text string",
    )
    got = {r.id: r.ok for r in probes.select(
        "id",
        webtext.c4_page_ok(webtext.c4_clean_lines(F.col("text")))
        .alias("ok")).collect()}
    assert got == {"three": True, "brace": False, "lorem": False}


def test_repetition_metrics_hand_computed(spark):
    from website_to_agent_spark.operators import webtext

    # 12 tokens, the 6-token sentence repeated once; joined chars = 45
    df = spark.createDataFrame(
        [(1, "the cat sat on the mat the cat sat on the mat"),
         (2, "one two"),            # too short for n>=3
         (3, "solo")],              # too short for every n
        "doc_id long, text string",
    )
    rep = {r.doc_id: r for r in webtext.repetition_metrics(df).collect()}
    r1 = rep[1]
    # top 2-gram: "the cat"/"cat sat"/... each ×2 (7 chars) except
    # "the mat"×2 and "mat the"×1 → max count*len = 2*7 = 14 → 14/45
    assert r1.top_2gram_char_frac == round(14 / 45, 6)
    # dup 5-grams: "the cat sat on the" and "cat sat on the mat"
    # each twice, len 18 → (2-1)*18*2 = 36 → 0.8
    assert r1.dup_5gram_char_frac == 0.8
    # 6-gram: whole sentence ×2, len 22 → 22/45
    assert r1.dup_6gram_char_frac == round(22 / 45, 6)
    assert r1.dup_7gram_char_frac == 0.0
    r2 = rep[2]
    assert r2.top_2gram_char_frac == 1.0   # one 2-gram = whole text
    assert r2.top_3gram_char_frac == 0.0
    r3 = rep[3]   # zero grams at any n — restored with all-zero row
    assert all(v == 0.0 for k, v in r3.asDict().items() if k != "doc_id")
    gated = {r.doc_id: r.repetition_ok
             for r in webtext.gopher_repetition_ok(
                 webtext.repetition_metrics(df)).collect()}
    assert gated[1] is False and gated[3] is True
    # the SQL (oracle-mirror) impl agrees on the same hand-computed rows
    rep_sql = {r.doc_id: r for r in webtext.repetition_metrics(
        df, impl="sql").collect()}
    for i in (1, 2, 3):
        assert tuple(rep_sql[i]) == tuple(rep[i])


def test_repetition_metrics_arrow_sql_parity_and_plan(spark):
    """The r5 map-only Arrow kernel is value-exact vs the retained
    pure-column (oracle-mirror) form on adversarial content — unicode
    lowercasing, nulls, empties, heavy repetition — and its plan has
    ZERO exchanges (the metric is within-doc; the r4 gram-row shuffle
    was measured wasteful at scale, BENCH/BASELINE.md r5 row)."""
    from website_to_agent_spark.operators import webtext

    rows = [
        (1, None), (2, ""), (3, "  \t \n "), (4, "only"),
        (5, "spam " * 40),
        (6, "the quick brown fox jumps over the lazy dog " * 9),
        (7, "Üñïçødé Tèxt ßeta İstanbul x1 y2 z3 " * 4),
        (8, "a-b_c d!e 0x7F 123 123 123 a-b_c"),
        (9, "word " + "tail piece " * 30),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = {r.doc_id: tuple(r) for r in webtext.repetition_metrics(df)
         .collect()}
    s = {r.doc_id: tuple(r) for r in webtext.repetition_metrics(
        df, impl="sql").collect()}
    assert a == s
    plan = webtext.repetition_metrics(df)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan


def test_url_dedup_best(spark):
    from website_to_agent_spark.operators import webtext

    urls = spark.createDataFrame(
        [("https://a.com/p?utm_source=t",), ("https://A.com/p",),
         ("https://a.com/q",)],
        "url string",
    )
    rows = {r.canon_url: r for r in webtext.url_dedup_best(urls).collect()}
    assert rows["https://a.com/p"].n_variants == 2
    assert rows["https://a.com/p"].url == "https://A.com/p"  # min() winner
    assert rows["https://a.com/q"].n_variants == 1


def test_kmeans_refined_centroids_improve_ivf(spark):
    """kmeans_refine converges centroids toward cluster prototypes:
    on blocked clustered data, IVF with refined centroids at n_probe=1
    reaches >=0.9 recall and is never worse than the stride init."""
    import random as _r

    rng = _r.Random(11)
    dim, n_clusters, per = 12, 10, 40
    protos = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(n_clusters)]
    rows = [(i, [x + rng.gauss(0, 0.08) for x in protos[i // per]])
            for i in range(n_clusters * per)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = corpus.filter(F.col("vec_id") % 57 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    exact = {(r.q_id, r.vec_id)
             for r in ann.cosine_topk(corpus, queries, k=10).collect()}

    stride = ann.stride_centroids(corpus, n_clusters)
    refined = ann.kmeans_refine(corpus, stride, iters=3)
    assert refined.count() == n_clusters
    # the mean step is pure column math (posexplode + avg), never an
    # applyInPandas group that concentrates a hot centroid's members in
    # one task (the returned plan is checkpoint-truncated, so pin the
    # property at the source level)
    import inspect

    assert "applyInPandas" not in inspect.getsource(ann.kmeans_refine)

    def recall(cents):
        got = {(r.q_id, r.vec_id)
               for r in ann.ivf_topk(corpus, queries, dim=dim, k=10,
                                     n_probe=1, centroids=cents).collect()}
        return len(exact & got) / len(exact)

    r_stride, r_refined = recall(stride), recall(refined)
    assert r_refined >= r_stride
    assert r_refined >= 0.9, (r_stride, r_refined)


def test_chunk_text_and_dedup_lines(spark):
    from website_to_agent_spark.operators import webtext

    df = spark.createDataFrame(
        [("abcdefghij",), ("",)], "text string"
    )
    chunks = df.filter(F.col("text") != "").select(
        F.posexplode(webtext.chunk_text(F.col("text"), 4, 1))
    ).select("col.chunk_idx", "col.content").collect()
    # stride 3: abcd, defg, ghij, j
    assert [(r.chunk_idx, r.content) for r in chunks] == [
        (0, "abcd"), (1, "defg"), (2, "ghij"), (3, "j")]
    empty = df.filter(F.col("text") == "").select(
        webtext.chunk_text(F.col("text"), 4, 1).alias("c")).first().c
    assert len(empty) == 1 and empty[0].content == ""

    dedup = spark.createDataFrame(
        [("a\nb\na\n\nc\n\nb",)], "text string"
    ).select(webtext.dedup_lines(F.col("text")).alias("d")).first().d
    assert dedup == "a\nb\n\nc"


def test_hash_embed_text_near_dups(spark):
    """hash_embed makes the ANN family text-native: exact-duplicate
    texts embed identically (cosine 1); unrelated texts score low; both
    hash functions produce unit-norm vectors."""
    df = spark.createDataFrame(
        [(1, "spark streams data fast"), (2, "spark streams data fast"),
         (3, "completely different words entirely unrelated")],
        "doc_id long, text string",
    )
    for hf in ("xxhash64", "md5"):
        emb = df.select(
            "doc_id", ann.hash_embed(F.col("text"), dim=16, hash_fn=hf).alias("embedding")
        )
        pairs = {(r.doc_a, r.doc_b): r.cos_sim
                 for r in ann.embedding_near_dups(
                     emb, threshold=0.99, n_bits=0, id_col="doc_id").collect()}
        assert set(pairs) == {(1, 2)} and abs(pairs[(1, 2)] - 1.0) < 1e-9
        norms = [sum(x * x for x in r.embedding) for r in emb.collect()]
        assert all(abs(n - 1.0) < 1e-9 for n in norms)


def test_lm_perplexity_separates_clean_from_gibberish(spark):
    """CCNet-style char-LM filter: docs that look like the training
    corpus score LOWER perplexity than shuffled-alphabet gibberish;
    smoothing handles unseen grams; determinism across runs."""
    from website_to_agent_spark.operators import webtext

    clean = [
        (i, "the quick brown fox jumps over the lazy dog near the river bank "
            "and the old stone bridge in the morning light " * 3)
        for i in range(8)
    ]
    test_rows = [
        (100, "the brown dog jumps over the stone bridge in the morning"),
        (101, "zq xv jk wq zx qj kv xz jq vk wz qx zj kw vq xw jz qk"),
    ]
    train = spark.createDataFrame(clean, "doc_id long, text string")
    docs = spark.createDataFrame(test_rows, "doc_id long, text string")
    lm = webtext.train_char_lm(train)
    got = {r.doc_id: r for r in webtext.lm_perplexity(docs, lm).collect()}
    assert got[100].perplexity < got[101].perplexity / 3
    assert got[100].n_grams == len(
        "the brown dog jumps over the stone bridge in the morning") - 2
    again = {r.doc_id: r.perplexity
             for r in webtext.lm_perplexity(docs, lm).collect()}
    assert again == {k: v.perplexity for k, v in got.items()}


def test_perplexity_buckets_ccnet_head_middle_tail(spark):
    """CCNet bucketing: percentile cutoffs put ~a third of docs in each
    bucket, head is strictly more fluent than tail, assignments are
    deterministic across re-runs/repartition, and the md5-sampled
    cutoff path is deterministic too."""
    from website_to_agent_spark.operators import webtext

    rng_texts = []
    base = ("the quick brown fox jumps over the lazy dog near the river "
            "bank and the old stone bridge in the morning light ")
    import random
    rng = random.Random(42)
    for i in range(60):
        # progressively corrupt the text so perplexity spreads smoothly
        noise = "".join(rng.choice("zqxvjkw ") for _ in range(i * 3))
        rng_texts.append((i, base + noise))
    docs = spark.createDataFrame(rng_texts, "doc_id long, text string")
    lm = webtext.train_char_lm(docs.filter(F.col("doc_id") < 10))

    out = webtext.perplexity_buckets(docs, lm)
    rows = {r.doc_id: r for r in out.collect()}
    sizes = {}
    for r in rows.values():
        sizes[r.bucket] = sizes.get(r.bucket, 0) + 1
    assert set(sizes) == {"head", "middle", "tail"}
    assert all(15 <= v <= 25 for v in sizes.values()), sizes
    import statistics
    mean = {b: statistics.mean(r.perplexity for r in rows.values()
                               if r.bucket == b) for b in sizes}
    assert mean["head"] < mean["middle"] < mean["tail"]

    again = {r.doc_id: r.bucket for r in webtext.perplexity_buckets(
        docs.repartition(7), lm).collect()}
    assert again == {k: v.bucket for k, v in rows.items()}

    s1 = {r.doc_id: r.bucket for r in webtext.perplexity_buckets(
        docs, lm, sample_frac=0.5).collect()}
    s2 = {r.doc_id: r.bucket for r in webtext.perplexity_buckets(
        docs.repartition(3), lm, sample_frac=0.5).collect()}
    assert s1 == s2 and len(s1) == 60


def test_semdedup_keeps_farthest_from_centroid(spark):
    """SemDeDup: two well-separated embedding clusters, each holding a
    tight semantic-duplicate group plus one genuinely distinct member.
    Each dup group collapses to its farthest-from-centroid exemplar;
    distinct members survive; assignment is deterministic."""
    import math

    from website_to_agent_spark.operators import ann

    def unit(v):
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    rows = []
    # cluster A around e0: ids 0-3 nearly identical (cos > 0.999),
    # id 4 tilted far enough to stay below the 0.99 threshold
    for i in range(4):
        rows.append((i, unit([1.0, 0.001 * i, 0.0, 0.0])))
    rows.append((4, unit([1.0, 0.35, 0.0, 0.0])))
    # cluster B around e2: ids 10-12 nearly identical, id 13 distinct
    for i in range(3):
        rows.append((10 + i, unit([0.0, 0.0, 1.0, 0.001 * i])))
    rows.append((13, unit([0.0, 0.0, 1.0, 0.35])))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    out = {r.vec_id: r for r in
           ann.semdedup(emb, n_clusters=2, threshold=0.99).collect()}
    assert len(out) == len(rows)
    kept = {i for i, r in out.items() if r.kept}
    # exactly one survivor per dup group + the two distinct members
    a_group = kept & {0, 1, 2, 3}
    b_group = kept & {10, 11, 12}
    assert len(a_group) == 1 and len(b_group) == 1
    assert 4 in kept and 13 in kept
    # the survivor is the farthest-from-centroid member of its group
    a_sims = {i: out[i].cent_sim for i in (0, 1, 2, 3)}
    assert a_group == {min(a_sims, key=a_sims.get)}
    # clusters were actually separated
    assert out[0].cid != out[10].cid
    # deterministic across repartition
    again = {r.vec_id: r.kept for r in ann.semdedup(
        emb.repartition(5), n_clusters=2, threshold=0.99).collect()}
    assert again == {i: r.kept for i, r in out.items()}


def test_near_dup_clusters_transitive_election(spark):
    # star graph (1,3),(2,3): greedy keeps BOTH local minima 1 and 2;
    # cluster election keeps exactly one survivor per component
    pairs = spark.createDataFrame(
        [(1, 3), (2, 3), (10, 11)], ["doc_a", "doc_b"]
    )
    rows = {r.doc_id: r for r in dedupe.near_dup_clusters(pairs).collect()}
    assert set(rows) == {1, 2, 3, 10, 11}
    assert rows[1].cluster_id == 1 and rows[1].keep
    assert rows[2].cluster_id == 1 and not rows[2].keep  # greedy would keep 2
    assert rows[3].cluster_id == 1 and not rows[3].keep
    assert rows[10].keep and not rows[11].keep
    # chain (4,5),(5,6) closes transitively into one cluster
    chain = spark.createDataFrame([(5, 6), (4, 5)], ["doc_a", "doc_b"])
    crows = {r.doc_id: r.cluster_id
             for r in dedupe.near_dup_clusters(chain).collect()}
    assert crows == {4: 4, 5: 4, 6: 4}


def test_near_dup_clusters_prefer_election(spark):
    pairs = spark.createDataFrame([(1, 3), (2, 3)], ["doc_a", "doc_b"])
    prefer = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.9)], ["doc_id", "score"]
    )
    rows = {r.doc_id: r.keep
            for r in dedupe.near_dup_clusters(pairs, prefer=prefer).collect()}
    # max score wins; tie between 2 and 3 broken by smaller id
    assert rows == {1: False, 2: True, 3: False}
    # a doc missing from prefer scores -inf and never wins a contested cluster
    partial = spark.createDataFrame([(3, 1.0)], ["doc_id", "score"])
    rows2 = {r.doc_id: r.keep
             for r in dedupe.near_dup_clusters(pairs, prefer=partial).collect()}
    assert rows2 == {1: False, 2: False, 3: True}


def test_corpus_near_dup_cluster_mode(spark):
    from website_to_agent_spark.operators import corpus as corpus_mod

    base = ("the quick brown fox jumps over the lazy dog and then runs "
            "far away into the deep green forest tonight ") * 4
    docs = spark.createDataFrame(
        [(i, base + f"tail {i % 2}") for i in range(1, 7)]
        + [(99, "totally unrelated text about database query planning "
                "optimizers and distributed shuffle execution engines "
                "with columnar storage formats and vectorized readers")],
        ["doc_id", "text"],
    )
    out, report = corpus_mod.build_training_corpus(
        docs, scrub_pii=False, gopher_gate=False,
        near_dup=True, near_dup_mode="cluster", minhash_threshold=0.5,
    )
    kept = {r.doc_id for r in out.select("doc_id").collect()}
    # all six near-identical docs collapse to one survivor; the
    # unrelated doc is untouched
    assert 99 in kept
    assert len(kept - {99}) == 1


def test_perplexity_by_lang_per_language_cutoffs(spark):
    """Per-language CCNet (Wenzek et al. §4.3): each doc is scored
    under its OWN language's LM, cutoffs are fit within each language
    (so every language contributes its own head slice even when its
    absolute ppl scale differs), unknown-language docs get NULL
    perplexity + the tail label, and assignments are deterministic
    across repartition."""
    import random

    from website_to_agent_spark.operators import webtext

    rng = random.Random(7)
    rows = []
    # 'en': fluent base + progressive corruption, ppl scale ~low
    en_base = ("the quick brown fox jumps over the lazy dog near the "
               "river bank in the morning light ")
    for i in range(30):
        noise = "".join(rng.choice("zqxvjkw ") for _ in range(i * 4))
        rows.append((i, "en", en_base + noise))
    # 'xx': a high-entropy synthetic language — every doc drawn from a
    # wide uniform charset, so its ppl scale sits far above en's
    for i in range(30):
        txt = "".join(rng.choice("abcdefghijklmnopqrstuvwxyz ")
                      for _ in range(220 + i * 9))
        rows.append((100 + i, "xx", txt))
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    lms = webtext.train_char_lms(docs)

    out = {r.doc_id: r
           for r in webtext.perplexity_buckets_by_lang(docs, lms).collect()}
    # per-language thirds: BOTH languages have head docs, despite the
    # xx ppl scale dominating en's (a corpus-wide cutoff would put all
    # of xx in the tail — that is the bug this operator exists to fix)
    for lang, lo in (("en", 0), ("xx", 100)):
        sizes = {}
        for i in range(30):
            b = out[lo + i].bucket
            sizes[b] = sizes.get(b, 0) + 1
        assert set(sizes) == {"head", "middle", "tail"}, (lang, sizes)
        assert all(7 <= v <= 13 for v in sizes.values()), (lang, sizes)
    xx_min = min(out[100 + i].perplexity for i in range(30))
    en_clean = out[0].perplexity
    assert en_clean < xx_min  # scales genuinely differ across langs

    # scoring really is per-language: an en doc scored under the en LM
    # must beat the same text's ppl under the mono all-corpus table
    # trained WITHOUT lang partitioning only if languages differ — the
    # direct check: per-lang denominators match a hand mirror for one doc
    one = docs.filter(F.col("doc_id") == 0)
    mono_lm = webtext.train_char_lm(docs.filter(F.col("lang") == "en"))
    mono = webtext.lm_perplexity(one, mono_lm).collect()[0]
    by = webtext.lm_perplexity_by_lang(one, lms).collect()[0]
    assert abs(mono.perplexity - by.perplexity) < 1e-9  # same LM either way

    # unknown language → NULL ppl, tail bucket (routed out, never
    # scored against the wrong model)
    unk = spark.createDataFrame([(999, "tlh", "nuqneH qaleghqa'")],
                                "doc_id long, lang string, text string")
    u = webtext.perplexity_buckets_by_lang(unk, lms).collect()[0]
    assert u.perplexity is None and u.bucket == "tail"

    again = {r.doc_id: r.bucket for r in webtext.perplexity_buckets_by_lang(
        docs.repartition(7), lms).collect()}
    assert again == {k: v.bucket for k, v in out.items()}


def test_bm25f_fielded_ranking(spark):
    """BM25F: anchor/title evidence outranks one more body occurrence;
    combine-then-saturate differs from naive per-field BM25 sum; empty
    query is all-zero; deterministic across repartition; anchor_texts
    builds the anchor field deterministically."""
    from website_to_agent_spark.operators import bm25, linkgraph

    filler = "lorem ipsum words fill the page with plain prose "
    rows = [
        # doc 1: query term only in body, twice
        (1, filler + "data appears here and data again", "other title", ""),
        # doc 2: query term once in body but also in title + anchor
        (2, filler + "data appears once", "data report", "data data"),
        # doc 3: no query terms anywhere
        (3, filler, "nothing", ""),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, body string, title string, anchor string")
    fields = {"body": 1.0, "title": 3.0, "anchor": 2.0}
    out = {r.doc_id: r.score for r in bm25.bm25f_scores(
        docs, "data", fields, b={"body": 0.75, "title": 0.5, "anchor": 0.4}
    ).collect()}
    # title+anchor evidence beats a second body occurrence
    assert out[2] > out[1] > out[3] == 0.0

    # combine-then-saturate: the weighted-field score must NOT equal
    # the sum of independent per-field BM25 runs (per-field saturation
    # is the anti-pattern the paper rules out)
    raw = {r.doc_id: r.score for r in bm25.bm25f_scores(
        docs, "data", fields, normalize=False).collect()}
    per_field = None
    for f, w in fields.items():
        s = {r.doc_id: w * r.score for r in bm25.bm25_scores(
            docs, "data", text_col=f, normalize=False).collect()}
        per_field = s if per_field is None else {
            k: per_field[k] + s[k] for k in s}
    assert abs(raw[2] - per_field[2]) > 1e-6

    assert all(r.score == 0.0 for r in
               bm25.bm25f_scores(docs, "", fields).collect())
    again = {r.doc_id: r.score for r in bm25.bm25f_scores(
        docs.repartition(5), "data", fields,
        b={"body": 0.75, "title": 0.5, "anchor": 0.4}).collect()}
    assert again == out

    # anchor_texts: inbound anchors concatenate sorted (deterministic)
    edges = spark.createDataFrame(
        [("a", "t", "zebra guide"), ("b", "t", "apple notes"),
         ("c", "t", None), ("d", "u", "solo")],
        "src string, dst string, anchor string")
    at = {r.url: r.anchor_text
          for r in linkgraph.anchor_texts(edges).collect()}
    assert at == {"t": "apple notes zebra guide", "u": "solo"}
    at2 = {r.url: r.anchor_text
           for r in linkgraph.anchor_texts(edges.repartition(3)).collect()}
    assert at2 == at


def test_detect_language_ngram_classifier(spark):
    """CCNet step 1 (Wenzek et al. §3.1 — language-ID BEFORE the
    per-language LM gate): the trained char-n-gram Bayes classifier
    recovers held-out labels on genuinely distinct languages, matches
    a hand mirror of the Laplace math exactly, breaks ties
    deterministically, and is repartition-invariant."""
    import random

    from website_to_agent_spark.operators import webtext

    rng = random.Random(11)
    # two synthetic languages with disjoint character inventories
    def aa_text(k):
        return " ".join("".join(rng.choice("abcdefghij")
                                for _ in range(rng.randint(2, 6)))
                        for _ in range(k))

    def bb_text(k):
        return " ".join("".join(rng.choice("qrstuvwxyz")
                                for _ in range(rng.randint(2, 6)))
                        for _ in range(k))

    train = []
    for i in range(25):
        train.append((i, "aa", aa_text(30)))
        train.append((100 + i, "bb", bb_text(30)))
    tdf = spark.createDataFrame(train,
                                "doc_id long, lang string, text string")
    lms = webtext.train_char_lms(tdf)

    held = [(1000 + i, aa_text(20)) for i in range(10)]
    held += [(2000 + i, bb_text(20)) for i in range(10)]
    hdf = spark.createDataFrame(held, "doc_id long, text string")
    out = {r.doc_id: r for r in webtext.detect_language(hdf, lms).collect()}
    assert all(out[1000 + i].lang == "aa" for i in range(10))
    assert all(out[2000 + i].lang == "bb" for i in range(10))

    # hand mirror of the Laplace math for one held-out doc
    doc_id, text = held[0]
    import re as _re
    norm = _re.sub(r"\s+", " ", text[:1000].lower())
    grams = ([norm[i:i + 3] for i in range(len(norm) - 2)]
             if len(norm) >= 3 else [norm])
    counts = {}
    for (_i, lang, t) in train:
        tn = _re.sub(r"\s+", " ", t[:1000].lower())
        for g in ([tn[i:i + 3] for i in range(len(tn) - 2)]
                  if len(tn) >= 3 else [tn]):
            counts.setdefault(lang, {})
            counts[lang][g] = counts[lang].get(g, 0) + 1
    best = None
    for lang, tab in sorted(counts.items()):
        denom = sum(tab.values()) + len(tab)
        al = sum(math.log((tab.get(g, 0) + 1.0) / denom)
                 for g in grams) / len(grams)
        if best is None or round(al, 6) > round(best[1], 6):
            best = (lang, al)
    r = out[doc_id]
    assert r.lang == best[0]
    assert abs(r.avg_logp - best[1]) < 1e-9
    assert abs(r.perplexity - math.exp(-best[1])) < 1e-6
    assert r.n_grams == len(grams)

    # tie-break: text trained IDENTICALLY in two languages scores
    # equal under both → lexicographically-smallest language wins
    tie_train = spark.createDataFrame(
        [(1, "zz", "same same same"), (2, "yy", "same same same")],
        "doc_id long, lang string, text string")
    tie_lms = webtext.train_char_lms(tie_train)
    tie = webtext.detect_language(
        spark.createDataFrame([(5, "same same same")],
                              "doc_id long, text string"), tie_lms)
    assert tie.collect()[0].lang == "yy"

    # margin: disjoint-charset docs are confident; a doc mixing both
    # languages' charsets is not
    mixed = spark.createDataFrame(
        [(1, aa_text(20)), (2, aa_text(10) + " " + bb_text(10))],
        "doc_id long, text string")
    m = {r.doc_id: r.margin for r in
         webtext.detect_language(mixed, lms, with_margin=True).collect()}
    assert m[1] > m[2] >= 0.0

    again = {r.doc_id: (r.lang, r.avg_logp) for r in
             webtext.detect_language(hdf.repartition(7), lms).collect()}
    assert again == {k: (v.lang, v.avg_logp) for k, v in out.items()}
