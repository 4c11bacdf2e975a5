"""Partitioned Bloom URL-seen prefilter (SURVEY §4.3, north_star).

At 10^10-URL scale the exact ``left_anti`` join against ``seen`` is the
dominant shuffle. A Bloom filter built per registrable-domain partition
and broadcast to executors classifies each candidate link BEFORE the
shuffle:

- bloom-NEGATIVE → definitively unseen → enqueue directly, skipping the
  anti-join entirely (the common case: most discovered links are new).
- bloom-POSITIVE → *maybe* seen → routed to the exact anti-join.

False positives therefore cost only a redundant exact check; they can
never drop a URL (SURVEY §7 "never skip the exact check for
positives"). PySpark has no public Bloom builder, so build/probe are
Arrow-batched grouped-map / map kernels over a bytearray bloom with k
xxhash-derived probes (blake2b-seeded, deterministic across runs).
"""

from __future__ import annotations

import hashlib
import math
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F


def _probes(url: str, n_bits: int, k: int) -> Iterator[int]:
    h = hashlib.blake2b(url.encode("utf-8"), digest_size=16).digest()
    a = int.from_bytes(h[:8], "little")
    b = int.from_bytes(h[8:], "little") | 1
    for i in range(k):
        yield (a + i * b) % n_bits


def optimal_params(n_items: int, fpp: float = 0.01) -> tuple[int, int]:
    n_bits = max(64, int(-n_items * math.log(fpp) / (math.log(2) ** 2)))
    k = max(1, round(n_bits / max(n_items, 1) * math.log(2)))
    return n_bits, min(k, 16)


def build_blooms(seen: DataFrame, key_col: str = "reg_domain",
                 url_col: str = "url", n_bits: int = 1 << 17,
                 k: int = 7) -> DataFrame:
    """(key, bloom binary) — one Bloom blob per partition key, built
    with applyInPandas (grouped-map; one pass over seen)."""

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        bits = bytearray(n_bits // 8 + 1)
        for u in pdf[url_col]:
            for p in _probes(u, n_bits, k):
                bits[p >> 3] |= 1 << (p & 7)
        return pd.DataFrame(
            {key_col: [pdf[key_col].iloc[0]], "bloom": [bytes(bits)]}
        )

    return seen.groupBy(key_col).applyInPandas(
        _build, schema=f"{key_col} string, bloom binary"
    )


def merge_blooms(a: DataFrame, b: DataFrame,
                 key_col: str = "reg_domain") -> DataFrame:
    """Bitwise-OR two bloom tables per key — the incremental-update
    primitive: ``blooms ∪ build_blooms(delta)`` keeps the per-superstep
    bloom maintenance O(Δ) instead of rebuilding from the full seen set
    (which would be O(seen) per superstep — quadratic over a crawl)."""

    def _merge(pdf: pd.DataFrame) -> pd.DataFrame:
        out: bytearray | None = None
        for blob in pdf["bloom"]:
            bb = bytes(blob)
            if out is None:
                out = bytearray(bb)
            else:
                out = bytearray(x | y for x, y in zip(out, bb))
        return pd.DataFrame(
            {key_col: [pdf[key_col].iloc[0]], "bloom": [bytes(out)]}
        )

    return a.unionByName(b).groupBy(key_col).applyInPandas(
        _merge, schema=f"{key_col} string, bloom binary"
    )


def add_to_blooms(table: DataFrame, delta: DataFrame,
                  key_col: str = "reg_domain", url_col: str = "url",
                  n_bits: int = 1 << 17, k: int = 7) -> DataFrame:
    """Fold a per-superstep url delta straight into the existing blobs
    with ONE cogrouped Arrow pass — the single-pass replacement for
    ``merge_blooms(table, build_blooms(delta))``, which shuffles the
    delta twice (once into the build's groupBy, once into the merge's)
    and runs two grouped kernels per superstep. Same O(Δ) contract and
    byte-identical output; keys absent from ``table`` get a fresh blob
    (mirrors ``cuckoo.add_to_cuckoos``)."""

    def _fold(key, tbl: pd.DataFrame, urls: pd.DataFrame) -> pd.DataFrame:
        if len(tbl) and tbl["bloom"].iloc[0] is not None:
            bits = bytearray(bytes(tbl["bloom"].iloc[0]))
        else:
            bits = bytearray(n_bits // 8 + 1)
        for u in (urls[url_col] if len(urls) else ()):
            for p in _probes(u, n_bits, k):
                bits[p >> 3] |= 1 << (p & 7)
        return pd.DataFrame({key_col: [key[0]], "bloom": [bytes(bits)]})

    return (
        table.groupBy(key_col)
        .cogroup(delta.groupBy(key_col))
        .applyInPandas(_fold, schema=f"{key_col} string, bloom binary")
    )


def probe_blooms(candidates: DataFrame, blooms: DataFrame,
                 key_col: str = "reg_domain", url_col: str = "url",
                 n_bits: int = 1 << 17, k: int = 7) -> DataFrame:
    """Adds ``maybe_seen`` (bool): False ⇒ definitively new. The blooms
    table is per-domain and small → broadcast join, then an Arrow
    batch kernel tests membership."""

    @F.pandas_udf("boolean")
    def _probe(url: pd.Series, bloom: pd.Series) -> pd.Series:
        out = []
        for u, blob in zip(url, bloom):
            if blob is None:
                out.append(False)  # no bloom for this domain ⇒ nothing seen
                continue
            hit = True
            for p in _probes(u, n_bits, k):
                if not (blob[p >> 3] >> (p & 7)) & 1:
                    hit = False
                    break
            out.append(hit)
        return pd.Series(out)

    joined = candidates.join(F.broadcast(blooms), key_col, "left")
    return joined.withColumn(
        "maybe_seen", _probe(F.col(url_col), F.col("bloom"))
    ).drop("bloom")


def prefiltered_anti_join(probed: DataFrame, seen: DataFrame,
                          join_keys: list[str],
                          cache_out: list | None = None) -> DataFrame:
    """Exact NOT-EXISTS semantics behind an approximate-membership
    prefilter — the contract every URL-seen filter (this module's
    Bloom, ``cuckoo``) shares. ``probed`` carries ``maybe_seen``
    (the filter's probe): negatives are definitively new and bypass
    the shuffle, positives get the exact anti-join against ``seen``.

    ``cache_out``: when given, the probed frame is ``persist()``-ed
    (lazily — the first consuming job populates it) and appended to
    the list so the CALLER can unpersist after its step materializes.
    Both output branches read the probe, so without the cache the
    candidate subtree and the Arrow probe kernel evaluate twice per
    superstep (Spark reuses exchanges, not Python eval nodes)."""
    if cache_out is not None:
        probed = probed.persist()
        cache_out.append(probed)
    definitely_new = probed.filter(~F.col("maybe_seen")).drop("maybe_seen")
    maybe = probed.filter(F.col("maybe_seen")).drop("maybe_seen")
    verified_new = maybe.join(
        seen.select(*join_keys), join_keys, "left_anti"
    )
    return definitely_new.unionByName(verified_new)


def bloom_anti_join(candidates: DataFrame, seen: DataFrame,
                    blooms: DataFrame, join_keys: list[str],
                    key_col: str = "reg_domain",
                    n_bits: int = 1 << 17, k: int = 7,
                    cache_out: list | None = None) -> DataFrame:
    """:func:`prefiltered_anti_join` with the Bloom probe."""
    probed = probe_blooms(candidates, blooms, key_col=key_col,
                          n_bits=n_bits, k=k)
    return prefiltered_anti_join(probed, seen, join_keys, cache_out)
