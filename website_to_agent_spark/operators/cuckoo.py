"""Partitioned cuckoo-filter URL-seen prefilter — the deletable
sibling of the Bloom path (north_star: "a partitioned Bloom/cuckoo
URL-seen filter"; Fan et al., "Cuckoo Filter: Practically Better Than
Bloom", CoNEXT'14 — public paper, independent implementation).

Same contract as ``operators/bloom.py``: one filter blob per
registrable-domain partition, broadcast to executors; NEGATIVE ⇒
definitively unseen (enqueue directly, skip the anti-join shuffle);
POSITIVE ⇒ maybe seen (routed to the exact check — false positives
can never drop a URL). What the cuckoo adds over the Bloom:

- **deletion** (``remove_from_cuckoos``): a re-crawl scheduler expires
  URLs past their TTL so they test "unseen" again — an OR-merged Bloom
  can only grow, a cuckoo removes the fingerprint exactly.
- bounded, slot-exact occupancy (fingerprints, not smeared bits), so
  load is observable per partition (``cuckoo_stats``).

Layout per blob: byte 0 = saturation flag, then ``n_buckets × slots``
one-byte fingerprints (0 = empty slot; fingerprints are mapped into
1..255). Partial-key cuckoo hashing: the alternate bucket is
``i XOR H(fp)`` (n_buckets a power of two makes the XOR an
involution, so relocation never needs the original key). If an insert
exceeds the kick budget the blob is marked SATURATED and every probe
of that partition returns maybe_seen=True — the filter degrades to
"everything takes the exact check", never to a false negative.

Incremental maintenance is O(Δ) like the Bloom's OR-merge: the
per-superstep delta is folded into the existing blobs with a cogrouped
Arrow kernel (``add_to_cuckoos``), never a rebuild from the full seen
set. Builds iterate URLs in sorted order so the blob bytes are
deterministic across runs and shuffle orders.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from website_to_agent_spark.operators.bloom import prefiltered_anti_join

_MAX_KICKS = 500


def _fp_and_bucket(url: str, n_buckets: int) -> tuple[int, int]:
    h = hashlib.blake2b(url.encode("utf-8"), digest_size=16).digest()
    fp = h[8] or 1  # fingerprints live in 1..255; 0 marks an empty slot
    return fp, int.from_bytes(h[:8], "little") % n_buckets


def _alt_bucket(bucket: int, fp: int, n_buckets: int) -> int:
    # partial-key displacement: involutive because n_buckets is 2^k
    h = hashlib.blake2b(bytes([fp]), digest_size=8).digest()
    return (bucket ^ int.from_bytes(h, "little")) & (n_buckets - 1)


def _new_blob(n_buckets: int, slots: int) -> bytearray:
    return bytearray(1 + n_buckets * slots)


def _insert(blob: bytearray, url: str, n_buckets: int, slots: int) -> None:
    if blob[0]:
        return  # already saturated — probes answer True for everything
    fp, b1 = _fp_and_bucket(url, n_buckets)
    b2 = _alt_bucket(b1, fp, n_buckets)
    # NO presence short-circuit: duplicate fingerprint COPIES are kept
    # (standard cuckoo-filter deletion semantics, Fan et al. §3.2 —
    # up to 2·slots copies per fp). An "idempotent insert" would make
    # two DISTINCT urls colliding on (bucket, fp) share one slot, and
    # deleting one would clear the other into a FALSE NEGATIVE (a
    # re-crawl storm at scale). With copies, a delete removes one copy
    # and the collider stays seen; the residual cost is only a benign
    # false POSITIVE when the same url is inserted twice and removed
    # once — callers feed distinct-url deltas, so copies stay rare.
    for b in (b1, b2):
        base = 1 + b * slots
        for s in range(slots):
            if blob[base + s] == 0:
                blob[base + s] = fp
                return
    # both buckets full → deterministic kick walk (slot round-robin)
    b = b1
    for kick in range(_MAX_KICKS):
        base = 1 + b * slots
        s = kick % slots
        fp, blob[base + s] = blob[base + s], fp
        b = _alt_bucket(b, fp, n_buckets)
        base = 1 + b * slots
        for s2 in range(slots):
            if blob[base + s2] == 0:
                blob[base + s2] = fp
                return
    blob[0] = 1  # kick budget exhausted — degrade safely


def _contains(blob: bytes, url: str, n_buckets: int, slots: int) -> bool:
    if blob[0]:
        return True
    fp, b1 = _fp_and_bucket(url, n_buckets)
    b2 = _alt_bucket(b1, fp, n_buckets)
    for b in (b1, b2):
        base = 1 + b * slots
        for s in range(slots):
            if blob[base + s] == fp:
                return True
    return False


def _remove(blob: bytearray, url: str, n_buckets: int, slots: int) -> None:
    fp, b1 = _fp_and_bucket(url, n_buckets)
    b2 = _alt_bucket(b1, fp, n_buckets)
    for b in (b1, b2):
        base = 1 + b * slots
        for s in range(slots):
            if blob[base + s] == fp:
                blob[base + s] = 0
                return


def build_cuckoos(seen: DataFrame, key_col: str = "reg_domain",
                  url_col: str = "url", n_buckets: int = 1 << 12,
                  slots: int = 4) -> DataFrame:
    """(key, cuckoo binary) — one filter blob per partition key.
    Capacity ≈ 0.95 · n_buckets · slots before saturation; size the
    buckets for the partition's expected URL count (a hot domain gets
    the same blob budget as the Bloom path's n_bits)."""
    assert n_buckets & (n_buckets - 1) == 0, "n_buckets must be 2^k"

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        blob = _new_blob(n_buckets, slots)
        for u in sorted(pdf[url_col]):
            _insert(blob, u, n_buckets, slots)
        return pd.DataFrame(
            {key_col: [pdf[key_col].iloc[0]], "cuckoo": [bytes(blob)]}
        )

    return seen.groupBy(key_col).applyInPandas(
        _build, schema=f"{key_col} string, cuckoo binary"
    )


def _apply_delta(table: DataFrame, delta: DataFrame, op,
                 key_col: str, url_col: str,
                 n_buckets: int, slots: int) -> DataFrame:
    def _fold(key, tbl, urls) -> pd.DataFrame:
        if len(tbl) and tbl["cuckoo"].iloc[0] is not None:
            blob = bytearray(bytes(tbl["cuckoo"].iloc[0]))
        else:
            blob = _new_blob(n_buckets, slots)
        for u in sorted(urls[url_col]) if len(urls) else ():
            op(blob, u, n_buckets, slots)
        return pd.DataFrame({key_col: [key[0]], "cuckoo": [bytes(blob)]})

    return (
        table.groupBy(key_col)
        .cogroup(delta.groupBy(key_col))
        .applyInPandas(_fold, schema=f"{key_col} string, cuckoo binary")
    )


def add_to_cuckoos(table: DataFrame, delta: DataFrame,
                   key_col: str = "reg_domain", url_col: str = "url",
                   n_buckets: int = 1 << 12, slots: int = 4) -> DataFrame:
    """Fold a per-superstep seen-delta into the existing blobs — the
    O(Δ) incremental-maintenance twin of ``bloom.merge_blooms`` (keys
    absent from ``table`` get a fresh blob)."""
    return _apply_delta(table, delta, _insert, key_col, url_col,
                        n_buckets, slots)


def remove_from_cuckoos(table: DataFrame, expired: DataFrame,
                        key_col: str = "reg_domain", url_col: str = "url",
                        n_buckets: int = 1 << 12, slots: int = 4) -> DataFrame:
    """Delete expired URLs' fingerprints so they test unseen again —
    the re-crawl/TTL primitive the Bloom path cannot express. Inserts
    keep duplicate fingerprint COPIES (see ``_insert``), so deleting
    an inserted URL removes one copy and any distinct URL that
    collides on (bucket, fp) keeps its own — no false negative among
    inserted URLs. Deleting a NEVER-inserted URL may still (at
    fingerprint-collision probability) clear a colliding entry — per
    the cuckoo-filter contract, only delete what was inserted."""
    return _apply_delta(table, expired, _remove, key_col, url_col,
                        n_buckets, slots)


def probe_cuckoos(candidates: DataFrame, table: DataFrame,
                  key_col: str = "reg_domain", url_col: str = "url",
                  n_buckets: int = 1 << 12, slots: int = 4) -> DataFrame:
    """Adds ``maybe_seen`` (bool): False ⇒ definitively new. The table
    is per-domain and small → broadcast join + Arrow batch kernel."""

    @F.pandas_udf("boolean")
    def _probe(url: pd.Series, blob: pd.Series) -> pd.Series:
        return pd.Series(
            [
                False if b is None else _contains(bytes(b), u, n_buckets, slots)
                for u, b in zip(url, blob)
            ]
        )

    joined = candidates.join(F.broadcast(table), key_col, "left")
    return joined.withColumn(
        "maybe_seen", _probe(F.col(url_col), F.col("cuckoo"))
    ).drop("cuckoo")


def cuckoo_anti_join(candidates: DataFrame, seen: DataFrame,
                     table: DataFrame, join_keys: list[str],
                     key_col: str = "reg_domain",
                     n_buckets: int = 1 << 12, slots: int = 4,
                     cache_out: list | None = None) -> DataFrame:
    """:func:`bloom.prefiltered_anti_join` with the cuckoo probe —
    drop-in for ``bloom.bloom_anti_join``."""
    probed = probe_cuckoos(candidates, table, key_col=key_col,
                           n_buckets=n_buckets, slots=slots)
    return prefiltered_anti_join(probed, seen, join_keys, cache_out)


def cuckoo_stats(table: DataFrame, n_buckets: int = 1 << 12,
                 slots: int = 4) -> DataFrame:
    """(key, occupied, capacity, load, saturated) per partition —
    slot-exact occupancy the smeared Bloom bits can't report; feeds
    resize decisions for hot domains."""

    @F.pandas_udf("long")
    def _occ(blob: pd.Series) -> pd.Series:
        return pd.Series(
            [sum(1 for x in bytes(b)[1:] if x) for b in blob]
        )

    @F.pandas_udf("boolean")
    def _sat(blob: pd.Series) -> pd.Series:
        return pd.Series([bool(bytes(b)[0]) for b in blob])

    cap = n_buckets * slots
    return table.select(
        "*",
        _occ(F.col("cuckoo")).alias("occupied"),
        _sat(F.col("cuckoo")).alias("saturated"),
    ).select(
        table.columns[0],
        "occupied",
        F.lit(cap).alias("capacity"),
        (F.col("occupied") / F.lit(float(cap))).alias("load"),
        "saturated",
    )
