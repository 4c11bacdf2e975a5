"""Deduplication operators for large-scale training-data pipelines.

Beyond-reference capability (task brief): exact dedup, MinHash+LSH,
SimHash, and n-gram Jaccard near-dup detection over a ``documents``
style table. All pure DataFrame/Column dataflow — hashing uses
``xxhash64``/``md5`` (JVM-side, codegen'd); no Python in the hot path
except nothing at all: there are zero UDFs here.

Scale design:
- exact dedup: one hash-groupBy shuffle on a 64-bit digest, never on
  the full text (map-side partial agg keeps the shuffle tiny).
- MinHash: explode shingles → per-doc min over k permutation hashes
  computed as (a_i * h + b_i) mod p from ONE base xxhash64 per shingle
  — k columns, one shuffle. LSH banding turns signature equality into
  an equi-join on (band_id, band_hash) so candidate pairs co-locate;
  no O(n²) comparison ever materializes.
- SimHash: 64-bit fingerprint via bit-majority over token hashes,
  expressed with bitwise column math + aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

_MERSENNE = (1 << 61) - 1
_OBS_SEQ = 0  # uniquifies default observe() metric names (see below)


def _tokens(text_col) -> F.Column:
    """Lowercased word tokens (letters+digits runs)."""
    return F.filter(
        F.split(F.lower(text_col), "[^a-z0-9]+"), lambda t: t != ""
    )


def _shingles_of_tokens(toks, n: int) -> F.Column:
    """Distinct word n-gram shingles from a BOUND token-array column.

    ``toks`` must be a real column (select the tokenizer into a column
    first), not a compound expression: ``transform`` inlines its
    argument into every lambda element, so an inline tokenizer would
    re-run its regex once per shingle — O(len·n_shingles) per doc
    (measured 4.8 s → 0.5 s on the sf0.1 shingle explode; the same
    trap ``webtext.char_ngrams`` documents)."""
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    return F.array_distinct(
        F.when(
            F.size(toks) >= n,
            F.transform(idx, lambda i: F.array_join(F.slice(toks, i + 1, n), " ")),
        ).otherwise(F.array(F.array_join(toks, " ")))
    )


def _shingles(text_col, n: int) -> F.Column:
    """Distinct word n-gram shingles as strings. Prefer binding
    ``_tokens`` into a column and calling ``_shingles_of_tokens`` —
    see its docstring for the inlining hazard."""
    return _shingles_of_tokens(_tokens(text_col), n)


def exact_duplicates(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Exact dedup groups: (dup_hash, n_dups, doc_ids) for texts seen
    more than once. Shuffles the 64-bit digest, not the text."""
    return (
        docs.select(F.col(id_col), F.xxhash64(F.col(text_col)).alias("dup_hash"))
        .groupBy("dup_hash")
        .agg(
            F.count("*").alias("n_dups"),
            F.sort_array(F.collect_list(id_col)).alias("doc_ids"),
        )
        .filter(F.col("n_dups") > 1)
    )


def minhash_signatures(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", n_hashes: int = 32,
                       shingle_n: int = 3,
                       hash_fn: str = "xxhash64") -> DataFrame:
    """Per-doc MinHash signature: array<long> of length ``n_hashes``.

    One base hash per shingle, then the standard (a_i·h + b_i) mod p
    family — all column math, one explode + one groupBy shuffle.

    ``hash_fn="xxhash64"`` (default): fastest JVM hash — the scale
    path. ``hash_fn="md5"``: base hash from the first 15 md5 hex chars
    — byte-reproducible in any engine with md5 (DuckDB included), so
    the driver-contract oracle checks the whole signature → banding →
    pair pipeline value-exactly (same trick as ``simhash``/
    ``hash_embed``)."""
    # base hash reduced to 32 bits so (a·h + b) stays in int64 under
    # ANSI arithmetic (a ≤ 2·n_hashes, h < 2^32 ⇒ product < 2^40).
    if hash_fn == "xxhash64":
        base = F.pmod(F.xxhash64("g"), F.lit(1 << 32))
    elif hash_fn == "md5":
        base = F.pmod(
            F.conv(F.substring(F.md5("g"), 1, 15), 16, 10).cast("long"),
            F.lit(1 << 32),
        )
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    sh = docs.select(
        F.col(id_col), _tokens(F.col(text_col)).alias("_tk")
    ).select(
        F.col(id_col),
        F.explode(_shingles_of_tokens(F.col("_tk"), shingle_n)).alias("g"),
    ).withColumn("h", base)
    aggs = [
        F.min(
            F.pmod(F.col("h") * F.lit(2 * i + 1) + F.lit(i * 0x9E3779B9), F.lit(_MERSENNE))
        ).alias(f"mh_{i}")
        for i in range(n_hashes)
    ]
    sig = sh.groupBy(id_col).agg(*aggs)
    return sig.select(
        id_col, F.array(*[f"mh_{i}" for i in range(n_hashes)]).alias("signature")
    )


def banded_candidate_pairs(banded: DataFrame, id_col: str, val_col: str,
                           band_cols=("band_id", "band_key"),
                           max_bucket: int = 1024,
                           drop_metrics=None,
                           score=None, score_name: str = "score",
                           keep=None) -> DataFrame:
    """LSH candidate pairs from a banded table WITHOUT a self-join:
    ONE groupBy on the band key collects (id, value) members, then
    every i<j pair is expanded inline with pure array expressions and
    de-duplicated across bands.

    Why not a self-join on the band key? A DataFrame self-join plans
    the upstream pipeline TWICE (no common-subexpression reuse across
    join sides in Catalyst), and for every banding operator here the
    upstream is the expensive part — the shingle explode + k min-aggs
    for MinHash, the token explode + per-bit sums for SimHash, the
    image decode kernel for phash. One groupBy computes it once.

    Returns (doc_a, doc_b, val_a, val_b) with doc_a < doc_b.

    ``max_bucket`` makes the mega-bucket hazard a MECHANICAL bound
    instead of docstring guidance: a bucket of B members expands to
    B(B-1)/2 pairs from one grouped row, so one boilerplate-heavy
    band bucket (empty docs, cookie banners) at 100 TB would be a
    single-task OOM. Buckets larger than ``max_bucket`` keep only
    their first ``max_bucket`` members in deterministic id order
    (the grouped array is sorted — ``collect_list`` order is not
    deterministic, so the cut must not depend on arrival order),
    bounding per-row expansion at max_bucket·(max_bucket-1)/2. Drops
    are never silent: pass a ``pyspark.sql.Observation`` (or a str
    name) as ``drop_metrics`` to record ``oversized_buckets`` /
    ``dropped_members`` lazily with the same action that consumes the
    pairs; with the default name the metrics land in the Spark UI /
    QueryExecutionListener stream. Truncation loses only pairs BOTH
    of whose members sit past the cut in EVERY band they share —
    run exact dedup first (the standard pipeline order) and genuine
    near-dup buckets stay far below the default cap.
    ``max_bucket=None`` disables the bound (the verify config).

    ``score`` — optional callable ``(val_a, val_b) -> Column`` with a
    SYMMETRIC result (est-Jaccard, hamming, …). When given, the
    verification score is computed INLINE during bucket expansion
    (both values are already in the grouped row) and the returned
    frame is ``(doc_a, doc_b, <score_name>)`` — the values never
    leave the bucket. This matters at scale: carrying a signature
    array through the pair explode and the cross-band dedup shuffle
    makes every intermediate row val-width (a B-member bucket
    materializes B(B-1)/2 val-width structs IN ONE ROW before the
    explode — profiled on template-heavy near-dup corpora, that
    in-row blow-up GC-thrashes exactly when many tasks run
    concurrently, so local[16] measured SLOWER than local[4]), while
    the slim form shuffles 24-byte rows. ``keep`` — optional callable
    ``(score_col) -> boolean Column`` applied to the in-bucket pair
    ARRAY before the explode, so sub-threshold candidates die before
    they become rows at all (the threshold filter moves ahead of the
    dedup shuffle; correct because the score per (doc_a, doc_b) is
    band-invariant)."""
    buckets = (
        banded.groupBy(*band_cols)
        .agg(
            F.collect_list(
                F.struct(F.col(id_col).alias("doc"), F.col(val_col).alias("val"))
            ).alias("ms")
        )
        .filter(F.size("ms") > 1)
    )
    if max_bucket is not None:
        buckets = buckets.withColumn(
            "n_dropped", F.greatest(F.size("ms") - max_bucket, F.lit(0))
        ).withColumn(
            "ms",
            F.when(
                F.col("n_dropped") > 0,
                F.slice(F.array_sort("ms"), 1, max_bucket),
            ).otherwise(F.col("ms")),
        )
        if drop_metrics is None:
            # Spark rejects duplicate metric names within one query, and
            # a single plan can contain several banding pipelines (e.g.
            # a minhash ∪ simhash union) — suffix a process-wide counter
            global _OBS_SEQ
            _OBS_SEQ += 1
            drop_metrics = f"banded_candidate_pairs_drops_{_OBS_SEQ}"
        buckets = buckets.observe(
            drop_metrics,
            F.sum((F.col("n_dropped") > 0).cast("long")).alias(
                "oversized_buckets"
            ),
            F.sum("n_dropped").alias("dropped_members"),
        )

    # AQE sizes reduce-side partitions by shuffle-READ bytes, but this
    # stage's real cost is the B(B-1)/2 pair expansion that runs in the
    # same stage as the collect_list: grouped bucket rows are compact
    # (a few hundred bytes each), so AQE coalesces them to 1-2
    # partitions and the expansion serializes onto 1-2 tasks no matter
    # how many cores the cluster has (measured: the expansion stage ran
    # single-task at 80k docs and local[16] was no faster than
    # local[4]). Round-robin the bucket rows across full parallelism so
    # the expansion scales; the extra exchange moves only the compact
    # grouped table, and spreading rows evenly also de-skews
    # mega-bucket concentration.
    sc = banded.sparkSession.sparkContext
    buckets = buckets.repartition(sc.defaultParallelism * 2)

    if score is not None:
        def _ordered_pair(m, nn):
            return F.struct(
                F.least(m["doc"], nn["doc"]).alias("doc_a"),
                F.greatest(m["doc"], nn["doc"]).alias("doc_b"),
                score(m["val"], nn["val"]).alias(score_name),
            )
    else:
        def _ordered_pair(m, nn):
            fwd = F.struct(
                m["doc"].alias("doc_a"), nn["doc"].alias("doc_b"),
                m["val"].alias("val_a"), nn["val"].alias("val_b"),
            )
            rev = F.struct(
                nn["doc"].alias("doc_a"), m["doc"].alias("doc_b"),
                nn["val"].alias("val_a"), m["val"].alias("val_b"),
            )
            return F.when(m["doc"] < nn["doc"], fwd).otherwise(rev)

    flat = F.flatten(
        F.transform(
            "ms",
            lambda m, i: F.transform(
                F.slice(F.col("ms"), i + F.lit(2), F.size("ms")),
                lambda nn: _ordered_pair(m, nn),
            ),
        )
    )
    if keep is not None:
        if score is None:
            raise ValueError("keep= requires score=")
        flat = F.filter(flat, lambda p: keep(p[score_name]))
    cols = (["p.doc_a", "p.doc_b", f"p.{score_name}"] if score is not None
            else ["p.doc_a", "p.doc_b", "p.val_a", "p.val_b"])
    return (
        buckets.select(F.explode(flat).alias("p"))
        .select(*cols)
        .dropDuplicates(["doc_a", "doc_b"])
    )


def banded_signature_keys(sig: DataFrame, id_col: str, bands: int,
                          rows_per_band: int,
                          hash_fn: str = "xxhash64") -> DataFrame:
    """(id, signature, band_id, band_hash) — LSH band keys from a
    ``minhash_signatures`` frame: each band is one hash over the
    comma-joined band slice, so signature equality on a band becomes
    key equality (shared by the pair path and the incremental
    against-prior path)."""
    band_hash = F.xxhash64 if hash_fn == "xxhash64" else F.md5
    return sig.select(
        F.col(id_col),
        "signature",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: band_hash(
                    F.array_join(
                        F.transform(
                            F.slice("signature",
                                    b * rows_per_band + 1, rows_per_band),
                            lambda x: x.cast("string"),
                        ),
                        ",",
                    )
                ),
            )
        ).alias("band_id", "band_hash"),
    )


def minhash_lsh_pairs(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", n_hashes: int = 32,
                      bands: int = 8, shingle_n: int = 3,
                      threshold: float = 0.7,
                      hash_fn: str = "xxhash64",
                      max_bucket: int = 1024,
                      drop_metrics=None) -> DataFrame:
    """Near-dup pairs via LSH banding + exact-Jaccard verification of
    candidates (estimated from full signatures).

    Returns (doc_a, doc_b, est_jaccard) with doc_a < doc_b.
    ``hash_fn``: see ``minhash_signatures`` — "md5" makes the whole
    pipeline DuckDB-mirrorable (band keys become md5 hex strings).

    Candidate generation is ONE groupBy on (band_id, band_hash) with
    inline i<j pair expansion — not a self-join — so the signature
    pipeline (the shingle explode + k min-aggs, by far the most
    expensive stage) is computed exactly once instead of once per join
    side. Scale note: a bucket of B members expands to B(B-1)/2 pairs
    lazily from one grouped row, so a mega-bucket of byte-identical
    texts would concentrate in one task — run ``exact_duplicates``
    first and near-dup only the distinct survivors (the standard
    pipeline order); genuine near-dup buckets stay small."""
    assert n_hashes % bands == 0
    sig = minhash_signatures(docs, id_col, text_col, n_hashes, shingle_n,
                             hash_fn=hash_fn)
    banded = banded_signature_keys(sig, id_col, bands,
                                   n_hashes // bands, hash_fn)
    # est-Jaccard is computed INLINE in the bucket expansion and the
    # threshold applies before the pair explode, so the 32-long
    # signature arrays never leave the grouped row and the cross-band
    # dedup shuffles 24-byte (doc_a, doc_b, est) rows — see the
    # ``score``/``keep`` scale note on ``banded_candidate_pairs``.
    return banded_candidate_pairs(
        banded, id_col, "signature", ("band_id", "band_hash"),
        max_bucket=max_bucket, drop_metrics=drop_metrics,
        score=lambda a, b: (
            F.aggregate(
                F.zip_with(a, b, lambda x, y: (x == y).cast("double")),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            / F.size(a)
        ),
        score_name="est_jaccard",
        keep=lambda s: s >= threshold,
    ).select("doc_a", "doc_b", "est_jaccard")


def ngram_jaccard_pairs(docs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", shingle_n: int = 3,
                        threshold: float = 0.8,
                        max_df: int | None = None) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via shingle equi-join
    (candidate generation by shared shingle — never a cross join).

    ``max_df`` caps candidate-generation skew (the r2-flagged
    stop-shingle hot key: a shingle in M docs makes M² join rows):
    shingles appearing in more than ``max_df`` docs are excluded from
    CANDIDATE generation only — surviving pairs get their intersection
    recomputed over the FULL shingle sets, so every reported jaccard
    stays exact. A pair sharing nothing but ubiquitous shingles is
    missed; at thresholds ≥0.8 such pairs share rare shingles too with
    overwhelming probability (and the capped path is the scale config,
    the uncapped default the verify config).

    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b."""
    sh = docs.select(
        F.col(id_col).alias("id"), _tokens(F.col(text_col)).alias("_tk")
    ).select(
        "id",
        F.explode(_shingles_of_tokens(F.col("_tk"), shingle_n)).alias("g"),
    )
    sizes = sh.groupBy("id").agg(F.count("*").alias("n"))
    a = sh.select(F.col("id").alias("doc_a"), "g")
    b = sh.select(F.col("id").alias("doc_b"), "g")
    if max_df is not None:
        rare = sh.groupBy("g").agg(
            F.count("*").alias("_df")
        ).filter(F.col("_df") <= max_df).select("g")
        cand = (
            a.join(rare, "g", "left_semi")
            .join(b.join(rare, "g", "left_semi"), "g")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b")
            .distinct()
        )
        # exact intersection for candidates only: |pairs| × |shingles|
        # bounded, no hot-key quadratic anywhere
        common = (
            cand.join(a, "doc_a")
            .join(b, ["doc_b", "g"])
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").alias("common"))
        )
    else:
        common = (
            a.join(b, "g")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").alias("common"))
        )
    return (
        common.join(sizes.withColumnRenamed("id", "doc_a")
                    .withColumnRenamed("n", "n_a"), "doc_a")
        .join(sizes.withColumnRenamed("id", "doc_b")
              .withColumnRenamed("n", "n_b"), "doc_b")
        .withColumn(
            "jaccard",
            F.col("common") / (F.col("n_a") + F.col("n_b") - F.col("common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def simhash_bits(hash_fn: str) -> int:
    return 64 if hash_fn == "xxhash64" else 60


_XXH_M = (1 << 64) - 1
_XXH_P1 = 0x9E3779B185EBCA87
_XXH_P2 = 0xC2B2AE3D27D4EB4F
_XXH_P3 = 0x165667B19E3779F9
_XXH_P4 = 0x85EBCA77C2B2AE63
_XXH_P5 = 0x27D4EB2F165667C5


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _XXH_M


def _xxh64(data: bytes, seed: int = 42) -> int:
    """xxHash64 over raw bytes — bit-identical to Spark's
    ``F.xxhash64`` on a string column (seed 42 over the UTF-8 bytes;
    parity pinned in tests). Unsigned; callers wanting Spark's signed
    long subtract 2^64 past 2^63."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _XXH_P1 + _XXH_P2) & _XXH_M
        v2 = (seed + _XXH_P2) & _XXH_M
        v3 = seed & _XXH_M
        v4 = (seed - _XXH_P1) & _XXH_M
        while i + 32 <= n:
            vs = [v1, v2, v3, v4]
            for j in range(4):
                k = int.from_bytes(data[i + 8 * j:i + 8 * j + 8], "little")
                v = (vs[j] + k * _XXH_P2) & _XXH_M
                vs[j] = (_rotl64(v, 31) * _XXH_P1) & _XXH_M
            v1, v2, v3, v4 = vs
            i += 32
        h = (_rotl64(v1, 1) + _rotl64(v2, 7)
             + _rotl64(v3, 12) + _rotl64(v4, 18)) & _XXH_M
        for v in (v1, v2, v3, v4):
            h ^= (_rotl64((v * _XXH_P2) & _XXH_M, 31) * _XXH_P1) & _XXH_M
            h = (h * _XXH_P1 + _XXH_P4) & _XXH_M
    else:
        h = (seed + _XXH_P5) & _XXH_M
    h = (h + n) & _XXH_M
    while i + 8 <= n:
        k = int.from_bytes(data[i:i + 8], "little")
        k = (_rotl64((k * _XXH_P2) & _XXH_M, 31) * _XXH_P1) & _XXH_M
        h ^= k
        h = (_rotl64(h, 27) * _XXH_P1 + _XXH_P4) & _XXH_M
        i += 8
    if i + 4 <= n:
        k = int.from_bytes(data[i:i + 4], "little")
        h ^= (k * _XXH_P1) & _XXH_M
        h = (_rotl64(h, 23) * _XXH_P2 + _XXH_P3) & _XXH_M
        i += 4
    while i < n:
        h ^= (data[i] * _XXH_P5) & _XXH_M
        h = (_rotl64(h, 11) * _XXH_P1) & _XXH_M
        i += 1
    h ^= h >> 33
    h = (h * _XXH_P2) & _XXH_M
    h ^= h >> 29
    h = (h * _XXH_P3) & _XXH_M
    h ^= h >> 32
    return h


def simhash_append(df: DataFrame, text_col: str = "text",
                   out_col: str = "simhash",
                   hash_fn: str = "xxhash64") -> DataFrame:
    """Append the per-row SimHash fingerprint as a column — ONE
    map-only Arrow pass over whatever columns ``df`` carries (r6).

    The aggregate form (token explode → 64 conditional sums →
    groupBy → join-back on id) paid two exchanges and re-walked the
    token stream once per bit; the fingerprint is purely WITHIN-row,
    so the kernel tokenizes once, hashes each token once (Python
    xxh64 mirrors ``F.xxhash64`` bit-for-bit — parity-tested; md5 via
    hashlib matches the conv(md5-prefix) form), and takes the bit
    majority with one vectorized vote count. Rows whose text has no
    tokens get NULL (the rows the aggregate form simply omitted);
    integer votes make the result exactly the aggregate form's.

    Locale caveat on that parity: the kernel lowercases with Python
    ``str.lower()`` (locale-independent), the aggregate form with
    Spark's ``lower()``, whose non-ASCII path is Java
    ``String.toLowerCase()`` in the JVM's DEFAULT locale. The two
    agree only under a Locale.ROOT-like default (e.g. en/US); under a
    Turkish default ``'I'`` lowercases to ``'ı'`` JVM-side but
    ``'i'`` here, so fingerprints of such text would differ from the
    column form. This function's own output does not depend on the
    JVM locale."""
    import re as _re

    from pyspark.sql import types as T

    n_bits = simhash_bits(hash_fn)
    if hash_fn not in ("xxhash64", "md5"):
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    schema = T.StructType(
        list(df.schema.fields) + [T.StructField(out_col, T.LongType())]
    )
    use_xxh = hash_fn == "xxhash64"

    def gen(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        tok_re = _re.compile(r"[a-z0-9]+")
        shifts = np.arange(n_bits, dtype=np.uint64)
        # per-batch token-hash memo: natural text repeats tokens
        # heavily (stopwords), so most lookups hit the dict instead
        # of re-hashing — value-neutral, hash(t) is a pure function.
        # Reset per Arrow batch so it stays bounded by one batch's
        # distinct tokens, never the whole partition's.
        memo: dict = {}

        def _h(tk):
            v = memo.get(tk)
            if v is None:
                if use_xxh:
                    v = _xxh64(tk.encode("utf-8"))
                else:
                    v = int(hashlib.md5(tk.encode("utf-8"))
                            .hexdigest()[:15], 16)
                memo[tk] = v
            return v

        for b in batches:
            memo.clear()
            fps = []
            for t in b[text_col]:
                if t is None:
                    fps.append(None)
                    continue
                toks = tok_re.findall(t.lower())
                if not toks:
                    fps.append(None)
                    continue
                hs = np.fromiter((_h(tk) for tk in toks),
                                 dtype=np.uint64, count=len(toks))
                ones = ((hs[:, None] >> shifts) & np.uint64(1)).sum(axis=0)
                fp = 0
                for i in np.nonzero(2 * ones > len(toks))[0]:
                    fp |= 1 << int(i)
                if fp >= 1 << 63:
                    fp -= 1 << 64
                fps.append(fp)
            out = b.copy()
            out[out_col] = pd.Series(fps, dtype="object")
            yield out

    return df.mapInPandas(gen, schema)


def simhash(docs: DataFrame, id_col: str = "doc_id",
            text_col: str = "text", hash_fn: str = "xxhash64") -> DataFrame:
    """SimHash fingerprint per doc: bit-majority over token hashes —
    one map-only Arrow pass (r6: the explode + 64-conditional-sum
    aggregate retired, see :func:`simhash_append`; values identical,
    docs with no tokens omitted exactly as the aggregate omitted
    them).

    ``hash_fn="xxhash64"`` (default): 64-bit, the scale path (the
    kernel's Python xxh64 is bit-identical to the JVM's).
    ``hash_fn="md5"``: 60-bit fingerprint from the first 15 md5 hex
    chars — byte-reproducible in any engine with md5 (DuckDB
    included), which is what the driver-contract oracle checks
    value-exactly."""
    sh = simhash_append(
        docs.select(F.col(id_col), F.col(text_col)),
        text_col=text_col, hash_fn=hash_fn,
    )
    return sh.filter(F.col("simhash").isNotNull()).select(
        F.col(id_col), "simhash"
    )


def simhash_near_pairs(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", max_hamming: int = 3,
                       bands: int = 4, hash_fn: str = "xxhash64",
                       max_bucket: int = 1024,
                       drop_metrics=None) -> DataFrame:
    """Near-dup pairs by SimHash: band the fingerprint into ``bands``
    equal-width keys (pigeonhole: hamming ≤ bands-1 ⇒ some band
    equal), bucket-group on band key (one pass — see
    ``banded_candidate_pairs``), verify hamming distance exactly."""
    fps = simhash(docs, id_col, text_col, hash_fn)
    width = simhash_bits(hash_fn) // bands
    banded = fps.select(
        F.col(id_col),
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned("simhash", i * width)
                    .bitwiseAND(F.lit((1 << width) - 1).cast("long"))
                    for i in range(bands)
                ]
            )
        ).alias("band_id", "band_key"),
    )
    return banded_candidate_pairs(
        banded, id_col, "simhash",
        max_bucket=max_bucket, drop_metrics=drop_metrics,
        score=lambda a, b: F.bit_count(a.bitwiseXOR(b)),
        score_name="hamming",
        keep=lambda s: s <= max_hamming,
    ).select("doc_a", "doc_b", "hamming")


def near_dup_clusters(pairs: DataFrame, id_col: str = "doc_id",
                      pair_a: str = "doc_a", pair_b: str = "doc_b",
                      prefer: DataFrame = None,
                      iters=None, max_iters: int = 50) -> DataFrame:
    """(id_col, cluster_id, keep) — transitive closure over a near-dup
    pair list (from ``minhash_lsh_pairs`` / ``simhash_near_pairs`` /
    ``ngram_jaccard_pairs``) with one canonical survivor per cluster
    (the FineWeb/RefinedWeb cluster-election form of fuzzy dedup).

    Semantics vs the greedy per-pair loser drop (``corpus.py``):
    greedy keeps every LOCAL minimum of the pair graph — for the star
    (1,3),(2,3) it keeps both 1 and 2 — while cluster election keeps
    exactly ONE member per connected component (doc 1), treating
    similarity as transitive. At high thresholds the two agree
    (pair groups are near-cliques); at lower thresholds cluster
    election is the standard published behavior.

    ``prefer`` — optional (id_col, score) table: the survivor is the
    cluster's max-score member (ties → smallest id) instead of the
    smallest id. Lets callers keep the highest-quality copy rather
    than an arbitrary one.

    Only docs that appear in ≥1 pair are returned — callers left-anti
    join the ``keep == False`` rows, so singletons pass untouched.

    Scale: min-label propagation via ``linkgraph.connected_components``
    — one dst-keyed min-agg + node-keyed join per round, O(component
    diameter) rounds (near-dup clusters are shallow), checkpoint-and-
    release discipline inherited. The election itself is one groupBy
    over (cluster_id) — no pair-list self-join, no O(cluster²) stage.
    """
    from website_to_agent_spark.operators.linkgraph import (
        connected_components,
    )

    comp = connected_components(
        pairs, src_col=pair_a, dst_col=pair_b,
        iters=iters, max_iters=max_iters,
    ).select(F.col("node").alias(id_col),
             F.col("component").alias("cluster_id"))
    if prefer is None:
        # component label IS the min member — election is free
        return comp.select(
            id_col, "cluster_id",
            (F.col(id_col) == F.col("cluster_id")).alias("keep"),
        )
    scored = comp.join(prefer.select(id_col, "score"), id_col, "left") \
        .withColumn("score", F.coalesce("score", F.lit(float("-inf"))))
    # min over (-score, id): max score first, smallest id on ties —
    # id stays un-negated so string ids work too
    best = scored.groupBy("cluster_id").agg(
        F.min_by(
            F.col(id_col),
            F.struct((-F.col("score")).alias("_s"), F.col(id_col)),
        ).alias("_winner")
    )
    return (
        scored.join(best, "cluster_id")
        .select(
            id_col, "cluster_id",
            (F.col(id_col) == F.col("_winner")).alias("keep"),
        )
    )


# -- incremental (against-prior-snapshot) dedup ----------------------------
#
# The production shape for rolling web corpora: each new crawl batch is
# deduped against ALL prior state without ever reshuffling the prior
# corpus — the state is a compact key table (64-bit text digests for
# exact, (band_id, band_hash) keys for near-dup), appended batch over
# batch exactly like the crawl engine's URL-seen store. At 100 TB the
# state tables are parquet/Iceberg-resident and bucketed by their key,
# so every batch costs one slim-key join, not a corpus scan.


def exact_digests(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text",
                  hash_fn: str = "xxhash64") -> DataFrame:
    """Distinct text digests of a corpus — the exact-dedup 'seen'
    state (one column, ``dup_hash``)."""
    digest = (F.xxhash64(F.col(text_col)) if hash_fn == "xxhash64"
              else F.md5(F.col(text_col)))
    return docs.select(digest.alias("dup_hash")).distinct()


def dedup_against_exact(new_docs: DataFrame, seen: DataFrame,
                        id_col: str = "doc_id", text_col: str = "text",
                        hash_fn: str = "xxhash64"):
    """(survivors, updated_seen) — drop any new doc whose exact text
    digest is already in ``seen`` (a prior :func:`exact_digests`
    table), AND exact-dedup within the batch (first = min id per
    digest, retry-stable). ``updated_seen`` is ``seen`` plus the
    survivors' digests — feed it to the next batch.

    Scale: the batch shuffles its 64-bit digest once (groupBy-min
    election with map-side combine), then one left_anti join against
    the seen keys; the prior corpus text is never read."""
    digest = (F.xxhash64(F.col(text_col)) if hash_fn == "xxhash64"
              else F.md5(F.col(text_col)))
    d = new_docs.withColumn("dup_hash", digest)
    winners = d.groupBy("dup_hash").agg(F.min(id_col).alias(id_col))
    fresh = winners.join(seen, "dup_hash", "left_anti")
    survivors = d.join(
        fresh.select(id_col), id_col, "left_semi"
    ).drop("dup_hash")
    updated = seen.unionByName(
        d.join(fresh.select(id_col), id_col, "left_semi")
        .select("dup_hash")
    ).distinct()
    return survivors, updated


def minhash_band_state(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", n_hashes: int = 32,
                       bands: int = 8, shingle_n: int = 3,
                       hash_fn: str = "xxhash64") -> DataFrame:
    """Distinct (band_id, band_hash) LSH keys of a corpus — the
    near-dup 'seen' state for :func:`dedup_against_bands`. Size is
    ≤ bands rows per distinct document, independent of text length."""
    assert n_hashes % bands == 0
    sig = minhash_signatures(docs, id_col, text_col, n_hashes,
                             shingle_n, hash_fn=hash_fn)
    return banded_signature_keys(
        sig, id_col, bands, n_hashes // bands, hash_fn
    ).select("band_id", "band_hash").distinct()


def dedup_against_bands(new_docs: DataFrame, prior_bands: DataFrame,
                        id_col: str = "doc_id", text_col: str = "text",
                        n_hashes: int = 32, bands: int = 8,
                        shingle_n: int = 3,
                        hash_fn: str = "xxhash64"):
    """(survivors, updated_bands) — near-dup removal of a new batch
    against a prior corpus represented ONLY by its LSH band keys
    (:func:`minhash_band_state`): a new doc is dropped when any of its
    band keys already exists in the prior state (the banding decision
    without signature verification — the published FineWeb setting,
    where band count/width are tuned so a shared band IS the match
    criterion; keep prior signatures and verify separately if you need
    an estimated-Jaccard cutoff). Within-batch near-dups are NOT
    handled here — run ``minhash_lsh_pairs`` on the survivors for
    that, or exact-first as ``build_training_corpus`` does.

    Scale: the batch pays its own signature computation (explode + k
    min-aggs); the prior corpus contributes only slim (band_id,
    band_hash) keys — one left_semi join, bucketable on the key."""
    assert n_hashes % bands == 0
    sig = minhash_signatures(new_docs, id_col, text_col, n_hashes,
                             shingle_n, hash_fn=hash_fn)
    banded = banded_signature_keys(
        sig, id_col, bands, n_hashes // bands, hash_fn)
    hit_ids = (
        banded.join(prior_bands, ["band_id", "band_hash"], "left_semi")
        .select(id_col).distinct()
    )
    survivors = new_docs.join(hit_ids, id_col, "left_anti")
    updated = prior_bands.unionByName(
        banded.join(hit_ids, id_col, "left_anti")
        .select("band_id", "band_hash")
    ).distinct()
    return survivors, updated
