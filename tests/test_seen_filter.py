"""The URL-seen prefilter contract shared by the Bloom and cuckoo
filters (``bloom.prefiltered_anti_join``): probe negatives are new,
probe positives take the exact anti-join, and ``cache_out`` persists
the probed frame once so both branches read it."""

import pytest

from website_to_agent_spark.operators import bloom, cuckoo


def _frames(spark):
    seen = spark.createDataFrame(
        [("a.com", f"https://a.com/p/{i}") for i in range(40)],
        "reg_domain string, url string",
    )
    cand = seen.unionByName(spark.createDataFrame(
        [("a.com", f"https://a.com/new/{i}") for i in range(20)]
        + [("b.com", "https://b.com/")],
        "reg_domain string, url string",
    ))
    return seen, cand


_FILTERS = {
    "bloom": (lambda s: bloom.build_blooms(s, n_bits=1 << 12),
              lambda *a, **k: bloom.bloom_anti_join(*a, n_bits=1 << 12, **k)),
    "cuckoo": (lambda s: cuckoo.build_cuckoos(s, n_buckets=1 << 6),
               lambda *a, **k: cuckoo.cuckoo_anti_join(
                   *a, n_buckets=1 << 6, **k)),
}


@pytest.mark.parametrize("name", sorted(_FILTERS))
def test_anti_join_cache_out_persists_probe_once(spark, name):
    build, anti_join = _FILTERS[name]
    seen, cand = _frames(spark)
    table = build(seen).localCheckpoint(eager=True)
    uncached = anti_join(cand, seen.select("url"), table, join_keys=["url"])
    lst: list = []
    cached = anti_join(cand, seen.select("url"), table, join_keys=["url"],
                       cache_out=lst)
    want = sorted(r.url for r in uncached.collect())
    assert sorted(r.url for r in cached.collect()) == want
    assert want == sorted(
        r.url for r in cand.join(seen.select("url"), "url", "left_anti")
        .collect()
    )
    assert len(lst) == 1
    assert lst[0].is_cached
    assert "maybe_seen" in lst[0].columns
    lst[0].unpersist()
