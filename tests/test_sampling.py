"""Sampling/splitting/mixing/packing operators: determinism, share
accuracy, and the per-group packing invariants."""

import pytest
from pyspark.sql import functions as F

from website_to_agent_spark.operators import sampling

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def docs(spark):
    return (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "lang", F.length("text").alias("n_tok"))
        .localCheckpoint(True)
    )


def test_split_by_hash_partitions_and_is_deterministic(spark, docs):
    w = {"train": 0.8, "val": 0.1, "test": 0.1}
    a = {r.doc_id: r.split for r in
         sampling.split_by_hash(docs, "doc_id", w).collect()}
    b = {r.doc_id: r.split for r in
         sampling.split_by_hash(docs, "doc_id", w).collect()}
    assert a == b                                   # pure function of key
    assert set(a.values()) == {"train", "val", "test"}
    n = len(a)
    assert n == docs.count()                        # exhaustive, disjoint
    train = sum(1 for v in a.values() if v == "train")
    assert 0.7 * n < train < 0.9 * n                # ~weights
    # a different salt reshuffles
    c = {r.doc_id: r.split for r in
         sampling.split_by_hash(docs, "doc_id", w, salt="other").collect()}
    assert c != a


def test_stratified_sample_deterministic_and_proportional(spark, docs):
    fr = {"en": 0.5, "de": 1.0, "zh": 0.0}
    kept = sampling.stratified_sample(docs, "lang", fr, "doc_id")
    ids1 = sorted(r.doc_id for r in kept.collect())
    ids2 = sorted(r.doc_id for r in
                  sampling.stratified_sample(docs, "lang", fr, "doc_id").collect())
    assert ids1 == ids2                             # re-runs keep SAME rows
    by_lang = {r.lang: r.n for r in
               kept.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    totals = {r.lang: r.n for r in
              docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert by_lang["de"] == totals["de"]            # fraction 1.0 keeps all
    assert "zh" not in by_lang                      # fraction 0 drops all
    assert "fr" not in by_lang                      # default_fraction=0
    assert 0.3 * totals["en"] < by_lang["en"] < 0.7 * totals["en"]
    # kept set is a subset of the full table
    assert set(ids1) <= {r.doc_id for r in docs.collect()}


def test_mixture_report_shares_and_multipliers(spark):
    rows = [(i, "en" if i < 6 else "de", 100) for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, n_tok long")
    rep = {r.stratum: r for r in sampling.mixture_report(
        df, "lang", F.col("n_tok"), targets={"en": 0.5, "de": 0.5}
    ).collect()}
    assert rep["en"].n_docs == 6 and rep["de"].n_docs == 4
    assert abs(rep["en"].share - 0.6) < 1e-9
    assert abs(rep["en"].multiplier - 0.5 / 0.6) < 1e-9
    assert abs(rep["de"].multiplier - 0.5 / 0.4) < 1e-9


def test_pack_sequences_contiguous_bins_per_group(spark):
    # one group (n_groups=1), max=1000, tokens 400,400,400,1500,100:
    # exclusive prefix sums 0,400,800,1200,2700 → bins 0,0,0,1,2 —
    # doc 2 STARTS inside bin 0 (800 < 1000) so it stays whole there
    # (bin 0 carries 1200 tokens: overflow < one document, as
    # documented); the 1500-token doc also sets the overflow flag.
    rows = [(0, 400), (1, 400), (2, 400), (3, 1500), (4, 100)]
    df = spark.createDataFrame(rows, "doc_id long, n_tok long")
    out = {r.doc_id: r for r in sampling.pack_sequences(
        df, 1000, "doc_id", F.col("n_tok"), n_groups=1).collect()}
    assert [out[i].bin_id for i in range(5)] == [0, 0, 0, 1, 2]
    assert out[3].bin_overflow and not out[0].bin_overflow


def test_pack_sequences_groups_are_independent(spark, docs):
    out = sampling.pack_sequences(docs, 5000, "doc_id",
                                  F.col("n_tok"), n_groups=8)
    # group assignment is doc_id % 8 (deterministic, oracle-mirrorable)
    bad = out.filter(F.col("pack_group") != F.col("doc_id") % 8).count()
    assert bad == 0
    # within (group, bin): total minus the straddling last doc < max
    agg = out.groupBy("pack_group", "bin_id").agg(
        F.sum("n_tok").alias("tot"), F.max("n_tok").alias("biggest")
    )
    assert agg.filter((F.col("tot") - F.col("biggest")) >= 5000).count() == 0
    # deterministic across runs
    a = sorted((r.doc_id, r.bin_id) for r in out.collect())
    b = sorted((r.doc_id, r.bin_id) for r in sampling.pack_sequences(
        docs, 5000, "doc_id", F.col("n_tok"), n_groups=8).collect())
    assert a == b


def test_apply_mixture_hits_targets_and_deterministic(spark):
    """Mixture execution: per-stratum weight share lands near the
    target (up AND down), copy_idx is dense per repeated doc, and
    re-runs/re-partitions agree row-for-row."""
    from website_to_agent_spark.operators import sampling

    rows = [(i, "big" if i % 4 else "small", 100) for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, w int")
    targets = {"big": 0.5, "small": 0.5}   # big 75% → down; small 25% → up
    out = sampling.apply_mixture(df, "lang", F.col("w"), targets,
                                 key_col="doc_id")
    got = {r["lang"]: r["cnt"] for r in out.groupBy("lang")
           .agg(F.count("*").alias("cnt")).collect()}
    total = sum(got.values())
    assert abs(got["big"] / total - 0.5) < 0.06
    assert abs(got["small"] / total - 0.5) < 0.06
    # upsampled docs carry dense copy_idx from 0
    per_doc = out.filter(F.col("lang") == "small").groupBy("doc_id").agg(
        F.collect_list("copy_idx").alias("c")).collect()
    assert all(sorted(r["c"]) == list(range(len(r["c"]))) for r in per_doc)
    again = sampling.apply_mixture(df.repartition(7), "lang", F.col("w"),
                                   targets, key_col="doc_id")
    assert sorted(map(tuple, out.select("doc_id", "copy_idx").collect())) \
        == sorted(map(tuple, again.select("doc_id", "copy_idx").collect()))


def test_dsir_importance_ranks_target_like_docs(spark):
    # target corpus: cooking vocabulary; raw pool: half cooking, half
    # legal boilerplate. Cooking docs must score strictly higher.
    cook = "stir the sauce then season the roast with fresh thyme"
    law = "the party of the first part hereby waives all liability"
    docs = spark.createDataFrame(
        [(i, cook + f" extra{i}") for i in range(5)]
        + [(i + 5, law + f" extra{i}") for i in range(5)],
        "doc_id long, text string")
    target = spark.createDataFrame(
        [(100, "season the sauce and roast with thyme then stir")],
        "doc_id long, text string")
    w = {r.doc_id: r.log_weight
         for r in sampling.dsir_importance(docs, target, buckets=256).collect()}
    assert len(w) == 10
    assert min(w[i] for i in range(5)) > max(w[i + 5] for i in range(5))


def test_dsir_select_topk_and_gumbel_deterministic(spark):
    cook = "stir the sauce then season the roast with fresh thyme"
    law = "the party of the first part hereby waives all liability"
    docs = spark.createDataFrame(
        [(i, cook + f" extra{i}") for i in range(5)]
        + [(i + 5, law + f" extra{i}") for i in range(5)],
        "doc_id long, text string")
    target = spark.createDataFrame(
        [(100, "season the sauce and roast with thyme then stir")],
        "doc_id long, text string")
    top = sampling.dsir_select(docs, target, 5, buckets=256)
    assert {r.doc_id for r in top.collect()} == set(range(5))
    # gumbel resampling: deterministic across re-runs (and across a
    # repartition), and still strongly target-biased at this margin
    g1 = {r.doc_id for r in sampling.dsir_select(
        docs, target, 5, gumbel_salt="epoch-0", buckets=256).collect()}
    g2 = {r.doc_id for r in sampling.dsir_select(
        docs.repartition(7), target, 5,
        gumbel_salt="epoch-0", buckets=256).collect()}
    assert g1 == g2
    g3 = {r.doc_id for r in sampling.dsir_select(
        docs, target, 5, gumbel_salt="epoch-1", buckets=256).collect()}
    assert len(g3) == 5  # a different epoch salt is a valid resample


def test_global_shuffle_deterministic_and_uniform(spark):
    docs = spark.range(2000).select(F.col("id").alias("doc_id"))
    a = {r.doc_id: (r.shard, r.shard_pos)
         for r in sampling.global_shuffle(docs, "doc_id", 8).collect()}
    b = {r.doc_id: (r.shard, r.shard_pos)
         for r in sampling.global_shuffle(
             docs.repartition(13), "doc_id", 8).collect()}
    assert a == b                       # partitioning-invariant
    shards = [s for s, _ in a.values()]
    sizes = {s: shards.count(s) for s in set(shards)}
    assert set(sizes) == set(range(8))
    assert max(sizes.values()) < 2 * min(sizes.values())  # uniform-ish
    # positions are a 1..n_s permutation per shard
    for s in sizes:
        got = sorted(p for sh, p in a.values() if sh == s)
        assert got == list(range(1, sizes[s] + 1))
    # a different salt is a different permutation
    c = {r.doc_id: (r.shard, r.shard_pos)
         for r in sampling.global_shuffle(
             docs, "doc_id", 8, salt="epoch-1").collect()}
    assert c != a


def test_write_training_shards_layout(spark, tmp_path):
    docs = spark.range(500).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("body "), F.col("id")).alias("text"))
    out = str(tmp_path / "shards")
    sampling.write_training_shards(docs, out, "doc_id", 4)
    import os
    dirs = sorted(d for d in os.listdir(out) if d.startswith("shard="))
    assert dirs == [f"shard={i}" for i in range(4)]
    back = spark.read.parquet(out)
    assert back.count() == 500
    assert {r.doc_id for r in back.select("doc_id").collect()} == \
        set(range(500))
    # within-shard file order IS the deterministic shard order
    first = spark.read.parquet(out + "/shard=0").limit(3).collect()
    expect = (
        sampling.global_shuffle(docs, "doc_id", 4)
        .filter(F.col("shard") == 0).orderBy("shard_pos")
        .limit(3).collect()
    )
    assert [r.doc_id for r in first] == [r.doc_id for r in expect]


def test_pack_token_windows_gpt_style(spark):
    """True context-window packing: per-shard doc streams (md5 order)
    chopped every seq_len with docs SPLIT across boundaries — checked
    against an exact Python mirror; no token lost (Σ == tokens+EOS per
    doc); all-but-last windows complete; partition-invariant; a new
    salt is a new permutation."""
    import hashlib

    from website_to_agent_spark.operators import sampling

    rows = [(i, list(range(i % 17 + 1))) for i in range(120)]
    df = spark.createDataFrame(rows, "doc_id long, ids array<int>")
    L, SH, EOS = 16, 3, 999

    out = sampling.pack_token_windows(df, "doc_id", "ids", L, SH, EOS)
    got = {(r.shard, r.window_id): r for r in out.collect()}

    # exact mirror of the md5 shard/order + chop semantics
    def u60(k, salt):
        h = hashlib.md5((str(k) + salt).encode()).hexdigest()[:15]
        return int(h, 16) / float(1 << 60)

    streams = {s: [] for s in range(SH)}
    for i, ids in rows:
        u = u60(i, "pack-v1")
        streams[int(u * SH)].append((u, i, ids + [EOS]))
    want = {}
    for s, docs in streams.items():
        flat = []
        for _, _, ids in sorted(docs):
            flat.extend(ids)
        for w in range((len(flat) + L - 1) // L):
            want[(s, w)] = flat[w * L:(w + 1) * L]
    assert {k: list(v.input_ids) for k, v in got.items()} == want

    total_in = sum(len(ids) + 1 for _, ids in rows)
    assert sum(r.n_ids for r in got.values()) == total_in
    for (s, w), r in got.items():
        is_last = w == max(w2 for (s2, w2) in got if s2 == s)
        assert r.complete == (r.n_ids == L)
        if not r.complete:
            assert is_last  # only a shard's final window may be short

    again = {(r.shard, r.window_id): list(r.input_ids)
             for r in sampling.pack_token_windows(
                 df.repartition(11), "doc_id", "ids", L, SH, EOS).collect()}
    assert again == {k: list(v.input_ids) for k, v in got.items()}

    other = {(r.shard, r.window_id): list(r.input_ids)
             for r in sampling.pack_token_windows(
                 df, "doc_id", "ids", L, SH, EOS, salt="epoch2").collect()}
    assert other != {k: list(v.input_ids) for k, v in got.items()}


def _es_mirror(rows, salt="wsample-v1"):
    """Exact Python mirror of es_key: ln(md5-60-bit-uniform)/w."""
    import hashlib
    import math

    out = {}
    for doc_id, w in rows:
        if w is None or w <= 0:
            continue
        h = hashlib.md5((str(doc_id) + salt).encode()).hexdigest()
        u = int(h[:15], 16) / float(1 << 60)
        out[doc_id] = math.log(u) / float(w)
    return out


def test_weighted_sample_matches_es_mirror(spark, docs):
    """Global top-k equals the exact Python Efraimidis–Spirakis
    mirror; deterministic across re-runs and re-partitionings."""
    base = [(r.doc_id, r.n_tok) for r in docs.collect()]
    keys = _es_mirror(base)
    want = sorted(keys, key=lambda d: (-keys[d], d))[:25]
    got = [r.doc_id for r in
           sampling.weighted_sample(docs, "doc_id", F.col("n_tok"), 25)
           .collect()]
    assert sorted(got) == sorted(want)
    again = [r.doc_id for r in
             sampling.weighted_sample(
                 docs.repartition(13), "doc_id", F.col("n_tok"), 25)
             .collect()]
    assert sorted(again) == sorted(want)            # partition-invariant


def test_weighted_sample_weight_bias_and_guards(spark):
    """A 100×-heavier row is (near-)always sampled before light rows;
    non-positive / NULL weights never appear; k > n returns all
    positive-weight rows."""
    rows = [(i, 1.0) for i in range(200)] + [(900, 100000.0),
                                             (901, 0.0), (902, None)]
    df = spark.createDataFrame(rows, "doc_id long, w double")
    top = sampling.weighted_sample(df, "doc_id", F.col("w"), 10)
    ids = {r.doc_id for r in top.collect()}
    assert 900 in ids                               # heavy row wins
    assert 901 not in ids and 902 not in ids
    allrows = sampling.weighted_sample(df, "doc_id", F.col("w"), 10_000)
    assert allrows.count() == 201                   # 200 light + heavy


def test_weighted_sample_per_stratum(spark, docs):
    """strata_col gives an independent top-k per stratum, matching the
    per-stratum slice of the same mirror."""
    base = [(r.doc_id, r.n_tok) for r in docs.collect()]
    lang = {r.doc_id: r.lang for r in docs.collect()}
    keys = _es_mirror(base)
    want = set()
    for lg in set(lang.values()):
        members = [d for d in keys if lang[d] == lg]
        want |= set(sorted(members, key=lambda d: (-keys[d], d))[:4])
    got = {r.doc_id for r in
           sampling.weighted_sample(
               docs, "doc_id", F.col("n_tok"), 4, strata_col="lang")
           .collect()}
    assert got == want
