"""Similarity search over an embedding column (``array<float>``).

- ``cosine_topk``: exact brute-force top-k — the correctness baseline.
  Dot products via ``F.zip_with`` + ``F.aggregate`` (JVM-side higher-
  order functions, no Python).
- ``lsh_topk``: random-hyperplane LSH bucketing — a scale path: only
  vectors sharing a bucket (or probing bucket) are compared, so the
  candidate set is ~n/2^bits per query instead of n.
- ``ivf_topk``: inverted-file lists — the other scale path: vectors are
  assigned to their nearest centroid; a query probes only ``n_probe``
  centroid lists.

Scale design: queries are broadcast (small side); the corpus scan is
one pass. Hyperplanes and centroids are shipped as BROADCAST DATA
(a one-row array column / a small joined table), never as plan
literals — a n_bits×dim or n_centroids×dim literal array would blow up
the plan (and its codegen) at dim≫64. Per-query top-k is a window over
the (query, candidate) pairs, partitioned by query — no global sort.
"""

from __future__ import annotations

import random
from typing import Optional

from pyspark.sql import DataFrame, Window, functions as F


def _dot(a, b) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double"),
    )


def _norm(a) -> F.Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + (x * x).cast("double"))
    )


def cosine(a, b) -> F.Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_topk(corpus: DataFrame, queries: DataFrame, k: int = 5,
                id_col: str = "vec_id", vec_col: str = "embedding",
                q_id_col: str = "q_id", q_vec_col: str = "q_vec") -> DataFrame:
    """Exact top-k by cosine: broadcast queries × corpus scan.
    Returns (q_id, vec_id, cos_sim, rank)."""
    joined = corpus.crossJoin(F.broadcast(queries))
    scored = joined.select(
        F.col(q_id_col),
        F.col(id_col),
        cosine(F.col(vec_col), F.col(q_vec_col)).alias("cos_sim"),
    )
    w = Window.partitionBy(q_id_col).orderBy(
        F.desc("cos_sim"), F.asc(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def hash_embed(text, dim: int = 64, hash_fn: str = "xxhash64") -> F.Column:
    """Deterministic text → embedding featurizer (the hashing trick):
    L2-normalized counts of hashed word tokens, as ``array<double>`` —
    lets every ANN/near-dup operator in this module run directly over
    a text corpus with no model in the loop. Pure column math, zero
    shuffle: each token is hashed once and counted into its bucket,
    O(dim × tokens) compares per doc — fine at the featurizer dims this
    is for. Lambda bodies never reference a computed outer column
    (Spark re-evaluates such a reference per element), so the counts
    and their norm are each evaluated once.

    ``hash_fn="xxhash64"`` is the fast JVM path; ``hash_fn="md5"``
    buckets by the first 15 md5 hex chars, reproducible in DuckDB, so
    the text-near-dup contract row is value-exact."""
    toks = F.filter(
        F.split(F.lower(text), "[^a-z0-9]+"), lambda t: t != ""
    )
    if hash_fn == "xxhash64":
        bucket = lambda t: F.pmod(F.xxhash64(t), F.lit(dim))  # noqa: E731
    elif hash_fn == "md5":
        bucket = lambda t: F.pmod(  # noqa: E731
            F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long"),
            F.lit(dim),
        )
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    counts = F.aggregate(
        F.transform(toks, bucket),
        F.array_repeat(F.lit(0.0), dim),
        lambda acc, b: F.transform(
            acc, lambda x, i: F.when(i == b, x + 1.0).otherwise(x)
        ),
    )
    # (sum of squares, counts) in one pass; the finish lambda sees
    # both as lambda variables. NULL text → dim NULLs.
    nulls = F.array_repeat(F.lit(None).cast("double"), dim)
    return F.when(F.lower(text).isNull(), nulls).otherwise(F.aggregate(
        counts,
        F.struct(F.lit(0.0).alias("ss"),
                 F.array().cast("array<double>").alias("v")),
        lambda acc, x: F.struct(
            (acc["ss"] + x * x).alias("ss"),
            F.concat(acc["v"], F.array(x)).alias("v"),
        ),
        lambda acc: F.transform(
            acc["v"],
            lambda x: x / F.greatest(F.sqrt(acc["ss"]), F.lit(1e-12)),
        ),
    ))


# ------------------------------------------------------------------ LSH

def hyperplane_values(dim: int, n_bits: int, seed: int = 42) -> list:
    """Deterministic pseudo-random hyperplanes (driver-side values —
    the oracle can regenerate the identical planes)."""
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_bits)]


# kept name for callers/tests that generate oracle-side plane literals
_hyperplanes = hyperplane_values

_PLANES_SCHEMA = "_planes array<struct<w:long,p:array<double>>>"


def _with_planes(df: DataFrame, dim: int, n_bits: int, seed: int) -> DataFrame:
    """Attach the hyperplane set as ONE broadcast row holding an
    array<struct<w,p>> column ``_planes`` — the planes travel as data
    (broadcast to executors once), not as n_bits×dim plan literals."""
    planes = [
        {"w": 1 << i, "p": p}
        for i, p in enumerate(hyperplane_values(dim, n_bits, seed))
    ]
    planes_df = df.sparkSession.createDataFrame([(planes,)], _PLANES_SCHEMA)
    return df.crossJoin(F.broadcast(planes_df))


def _bucket_expr(vec) -> F.Column:
    """Sign-of-projection bucket id from the ``_planes`` column:
    bit i = 1 iff vec·plane_i > 0 (w carries the 2^i weight)."""
    return F.aggregate(
        F.col("_planes"),
        F.lit(0).cast("long"),
        lambda acc, pl: acc
        + F.when(_dot(vec, pl["p"]) > 0, pl["w"]).otherwise(
            F.lit(0).cast("long")
        ),
    )


def lsh_bucket(vec_col, planes) -> F.Column:
    """Back-compat literal-planes bucket (small n_bits×dim only — e.g.
    oracle mirrors). The engine paths use ``_with_planes`` instead."""
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        proj = F.aggregate(
            F.zip_with(
                vec_col,
                F.array(*[F.lit(float(p)) for p in plane]),
                lambda x, y: x * y,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double"),
        )
        bucket = bucket + F.when(proj > 0, F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return bucket


def lsh_topk(corpus: DataFrame, queries: DataFrame, dim: int, k: int = 5,
             n_bits: int = 8, probe_hamming: int = 1,
             id_col: str = "vec_id", vec_col: str = "embedding",
             q_id_col: str = "q_id", q_vec_col: str = "q_vec",
             seed: int = 42) -> DataFrame:
    """Approximate top-k: bucket corpus + queries by random-hyperplane
    signature; compare a query only against buckets within
    ``probe_hamming`` bit-flips (multi-probe). Recall/efficiency knob =
    (n_bits, probe_hamming)."""
    c = (
        _with_planes(corpus, dim, n_bits, seed)
        .withColumn("bucket", _bucket_expr(F.col(vec_col)))
        .drop("_planes")
    )
    q = (
        _with_planes(queries, dim, n_bits, seed)
        .withColumn("q_bucket", _bucket_expr(F.col(q_vec_col)))
        .drop("_planes")
    )

    # probe buckets: the query bucket + every bucket ≤ probe_hamming away
    probes = [0]
    if probe_hamming >= 1:
        probes += [1 << i for i in range(n_bits)]
    q = q.withColumn(
        "bucket",
        F.explode(
            F.array(*[F.col("q_bucket").bitwiseXOR(F.lit(m).cast("long"))
                      for m in probes])
        ),
    )
    joined = c.join(F.broadcast(q), "bucket")
    scored = joined.select(
        F.col(q_id_col),
        F.col(id_col),
        cosine(F.col(vec_col), F.col(q_vec_col)).alias("cos_sim"),
    ).dropDuplicates([q_id_col, id_col])
    w = Window.partitionBy(q_id_col).orderBy(F.desc("cos_sim"), F.asc(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


# ------------------------------------------------------------------ IVF

def stride_centroids(corpus: DataFrame, n_centroids: int,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """Deterministic stratified centroid sample: every ⌈n/k⌉-th row by
    id order. Spread across the id space (unlike first-N, which samples
    one corner of the data); oracle-reproducible in plain SQL. At
    production scale this is where a k-means fit persisted next to the
    index would plug in — the interface is just this (cid, cvec) table.
    Costs one count() job at build time."""
    n = corpus.count()
    stride = max(1, n // max(1, n_centroids))
    return (
        corpus.filter((F.col(id_col) % stride == 0))
        .orderBy(id_col)
        .limit(n_centroids)
        .select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec"))
    )


def kmeans_refine(corpus: DataFrame, centroids: DataFrame, iters: int = 3,
                  id_col: str = "vec_id",
                  vec_col: str = "embedding") -> DataFrame:
    """Lloyd iterations over an initial centroid table (e.g.
    ``stride_centroids``): assign every vector to its nearest centroid
    (broadcast centroids, zero-shuffle argmax per row), then recompute
    each centroid as its members' element-wise mean — ``posexplode``
    the vectors and ``groupBy(cid, idx).avg``, then repack in index
    order. Bounded memory by construction: a mega-cluster's members
    spread over dim× shuffle keys with map-side partial aggregation,
    instead of concentrating in one task (the per-centroid pandas-group
    reducer this replaces). Index-BUILD-time cost, not on the query
    path. Empty
    clusters keep their previous centroid. Returns (cid, cvec) — plug
    into ``ivf_topk(..., centroids=...)``."""
    for _ in range(iters):
        assigned = (
            _with_centroids(corpus, centroids)
            .withColumn("cid", _nearest_cids(F.col(vec_col), 1)[0])
            .drop("_cents")
            .select("cid", F.col(vec_col).alias("v"))
        )
        new = (
            assigned.select("cid", F.posexplode("v").alias("idx", "x"))
            .groupBy("cid", "idx")
            .agg(F.avg("x").alias("m"))
            .groupBy("cid")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("idx", "m"))
                ).alias("_a")
            )
            .select(
                "cid", F.transform("_a", lambda s: s["m"]).alias("cvec")
            )
        )
        # empty clusters keep their previous centroid
        kept = centroids.join(new.select("cid"), "cid", "left_anti").select(
            "cid", F.col("cvec").cast("array<double>").alias("cvec")
        )
        centroids = new.unionByName(kept).localCheckpoint(eager=True)
    return centroids


def _with_centroids(df: DataFrame, centroids: DataFrame) -> DataFrame:
    """Attach the centroid set as ONE broadcast row holding an
    array<struct<cid,cvec>> column ``_cents`` (data, not plan
    literals)."""
    packed = centroids.agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("cid"), F.col("cvec")))
        ).alias("_cents")
    )
    return df.crossJoin(F.broadcast(packed))


def _nearest_cids(vec, n_probe: int) -> F.Column:
    """Top-``n_probe`` centroid ids by cosine from the ``_cents``
    column (ties → smaller cid), as an array."""
    scored = F.transform(
        F.col("_cents"),
        lambda c: F.struct(
            cosine(vec, c["cvec"]).alias("s"),
            (-c["cid"]).alias("negid"),
            c["cid"].alias("cid"),
        ),
    )
    top = F.slice(F.reverse(F.array_sort(scored)), 1, n_probe)
    return F.transform(top, lambda s: s["cid"])


def ivf_topk(corpus: DataFrame, queries: DataFrame, dim: int, k: int = 5,
             n_centroids: int = 16, n_probe: int = 4,
             id_col: str = "vec_id", vec_col: str = "embedding",
             q_id_col: str = "q_id", q_vec_col: str = "q_vec",
             centroids: Optional[DataFrame] = None) -> DataFrame:
    """IVF (inverted-file) approximate top-k — the other scale path.

    Centroids default to a deterministic stride sample of the corpus
    (``stride_centroids``); callers with a trained k-means pass their
    own ``centroids(cid, cvec)`` table. Every vector is assigned to its
    nearest centroid in one corpus pass (centroids broadcast as data —
    zero shuffle, zero plan literals); a query probes only the
    ``n_probe`` nearest centroid lists. At rest the corpus would be
    written partitioned by ``centroid`` so a probe is a partition-
    pruned scan."""
    if centroids is None:
        centroids = stride_centroids(corpus, n_centroids, id_col, vec_col)

    c = (
        _with_centroids(corpus, centroids)
        .withColumn("centroid", _nearest_cids(F.col(vec_col), 1)[0])
        .drop("_cents")
    )
    q = (
        _with_centroids(queries, centroids)
        .withColumn("centroid", F.explode(_nearest_cids(F.col(q_vec_col), n_probe)))
        .drop("_cents")
    )
    joined = c.join(F.broadcast(q), "centroid")
    scored = joined.select(
        F.col(q_id_col), F.col(id_col),
        cosine(F.col(vec_col), F.col(q_vec_col)).alias("cos_sim"),
    ).dropDuplicates([q_id_col, id_col])
    w = Window.partitionBy(q_id_col).orderBy(F.desc("cos_sim"), F.asc(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


# ------------------------------------------------------------- near-dup

def embedding_near_dups(corpus: DataFrame, threshold: float = 0.95,
                        id_col: str = "vec_id", vec_col: str = "embedding",
                        n_bits: Optional[int] = None, seed: int = 42,
                        dim: Optional[int] = None, n_tables: int = 4,
                        exact_max_rows: int = 20_000) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (training-data dedup).

    ``n_bits=0`` → exact all-pairs (the correctness baseline / oracle
    path — O(n²), only sane on small corpora). ``n_bits>0`` → multi-
    table random-hyperplane bucketing: ``n_tables`` independent plane
    sets, candidates = same-bucket pairs in ANY table (miss probability
    (1−(1−θ/π)^bits)^tables — for cos ≥ 0.95, 8 bits × 4 tables ≈
    2·10⁻³), then exact cosine verification. The default (``None``)
    GUARDS against accidental O(n²): corpora over ``exact_max_rows``
    rows automatically take the bucketed path (costs one count job).
    Returns (doc_a, doc_b, cos_sim) with doc_a < doc_b."""
    if n_bits is None:
        n_bits = 0 if corpus.count() <= exact_max_rows else 8
    if n_bits > 0 and dim is None:
        dim = len(corpus.select(vec_col).first()[0])

    if n_bits > 0:
        # one bucket column per table; explode → (table, bucket) key
        c = corpus
        for t in range(n_tables):
            c = (
                _with_planes(c, dim, n_bits, seed + 1000 * t)
                .withColumn(f"_b{t}", _bucket_expr(F.col(vec_col)))
                .drop("_planes")
            )
        c = c.select(
            F.col(id_col), F.col(vec_col),
            F.posexplode(F.array(*[f"_b{t}" for t in range(n_tables)])).alias(
                "table", "bucket"
            ),
        )
        key = ["table", "bucket"]
    else:
        c = corpus.withColumn("bucket", F.lit(0))
        key = ["bucket"]
    a = c.select(F.col(id_col).alias("doc_a"),
                 F.col(vec_col).alias("va"), *key)
    b = c.select(F.col(id_col).alias("doc_b"),
                 F.col(vec_col).alias("vb"), *key)
    pairs = (
        a.join(b, key)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "va", "vb")
    )
    if n_bits > 0:
        pairs = pairs.dropDuplicates(["doc_a", "doc_b"])
    return (
        pairs.withColumn("cos_sim", cosine(F.col("va"), F.col("vb")))
        .filter(F.col("cos_sim") >= threshold)
        .select("doc_a", "doc_b", "cos_sim")
    )


def semdedup(corpus: DataFrame, n_clusters: int = 16,
             threshold: float = 0.95, iters: int = 3,
             id_col: str = "vec_id",
             vec_col: str = "embedding") -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "Semantic deduplication: removing
    semantic duplicates makes training faster and better"): k-means
    cluster the embedding space, then within each cluster treat every
    pair with cosine >= ``threshold`` as semantic duplicates and keep,
    per the paper, the member FARTHEST from its cluster centroid (the
    most "extreme" exemplar preserves diversity; the near-centroid
    copies are the redundant ones). Returns
    (id, cid, cent_sim, kept) — filter ``kept`` for the survivors.

    Determinism: centroids come from the stride sample + Lloyd
    refinement (no RNG); the per-pair loser is the higher-centroid-sim
    member, ties broken on the larger id — so re-runs, retries and
    engines agree row-for-row.

    Scale shape: assignment is the broadcast-centroid argmax (zero
    shuffle); pair generation joins on cid, so only same-cluster pairs
    materialize (the paper's own O(Σ m_c²) within-cluster cost —
    size n_clusters for the corpus, and pre-cap mega-clusters with
    ``cap_per_domain``-style bounding if the embedding space has a
    degenerate mode). Duplicates that straddle a cluster boundary are
    missed — inherent to SemDeDup, tune n_clusters/threshold.
    """
    cents = kmeans_refine(
        corpus, stride_centroids(corpus, n_clusters, id_col, vec_col),
        iters=iters, id_col=id_col, vec_col=vec_col,
    )
    assigned = (
        _with_centroids(corpus, cents)
        .withColumn("cid", _nearest_cids(F.col(vec_col), 1)[0])
        .drop("_cents")
        .join(F.broadcast(cents), "cid")
        .withColumn("cent_sim", cosine(F.col(vec_col), F.col("cvec")))
        .drop("cvec")
    )
    a = assigned.select(
        "cid", F.col(id_col).alias("doc_a"), F.col(vec_col).alias("va"),
        F.col("cent_sim").alias("ca"),
    )
    b = assigned.select(
        "cid", F.col(id_col).alias("doc_b"), F.col(vec_col).alias("vb"),
        F.col("cent_sim").alias("cb"),
    )
    losers = (
        a.join(b, "cid")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(cosine(F.col("va"), F.col("vb")) >= threshold)
        .select(
            F.when(F.col("ca") > F.col("cb"), F.col("doc_a"))
            .when(F.col("ca") < F.col("cb"), F.col("doc_b"))
            .otherwise(F.greatest("doc_a", "doc_b")).alias(id_col)
        )
        .distinct()
        .withColumn("kept", F.lit(False))
    )
    return (
        assigned.select(id_col, "cid", "cent_sim")
        .join(losers, id_col, "left")
        .withColumn("kept", F.coalesce("kept", F.lit(True)))
    )
