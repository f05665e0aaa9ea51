"""URL-seen: Bloom prefilter + exact anti-join — set-exactness guarantees."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crawler_spark.config import EngineConfig
from crawler_spark.operators.bloom import build_blooms, probe_blooms
from crawler_spark.operators.dedup import (
    BLOOM,
    CUCKOO,
    dedupe_domain_first_wins,
    filter_unseen,
    first_wins,
    merge_runs,
    required_buckets,
)

CFG = EngineConfig(num_host_buckets=8)


@pytest.fixture(scope="module")
def seen(spark):
    df = spark.range(0, 5000).select(
        F.concat(F.lit("com,site"), F.col("id"), F.lit(")/p")).alias("surt")
    ).cache()
    df.count()
    yield df
    df.unpersist()


@pytest.mark.spark
def test_bloom_no_false_negatives(spark, seen):
    """Every seen key must probe positive — Bloom filters never lie 'new'."""
    blooms = build_blooms(seen, cfg=CFG)
    probed = probe_blooms(seen, blooms, cfg=CFG)
    assert probed.where(~F.col("_maybe_seen")).count() == 0


@pytest.mark.spark
def test_bloom_fp_rate_reasonable(spark, seen):
    blooms = build_blooms(seen, cfg=CFG)
    fresh = spark.range(100000, 103000).select(
        F.concat(F.lit("com,site"), F.col("id"), F.lit(")/p")).alias("surt")
    )
    fp = probe_blooms(fresh, blooms, cfg=CFG).where(F.col("_maybe_seen")).count()
    # 10 bits/key, 6 hashes → theoretical fp ~1%; allow slack
    assert fp / 3000 < 0.05


@pytest.mark.spark
def test_filter_unseen_exact_with_and_without_bloom(spark, seen):
    """Bloom path and plain anti-join path return identical sets —
    false positives are always confirmed away."""
    cand = spark.range(4000, 7000).select(
        F.concat(F.lit("com,site"), F.col("id"), F.lit(")/p")).alias("surt")
    )
    blooms = build_blooms(seen, cfg=CFG)
    with_bloom = {r["surt"] for r in filter_unseen(cand, seen, blooms, cfg=CFG).collect()}
    plain = {r["surt"] for r in filter_unseen(cand, seen, None).collect()}
    expect = {f"com,site{i})/p" for i in range(5000, 7000)}
    assert with_bloom == plain == expect


@pytest.mark.spark
def test_filter_unseen_drops_null_keys(spark, seen):
    cand = spark.createDataFrame([("com,x)/a",), (None,)], "surt string")
    assert filter_unseen(cand, seen, None).count() == 1


@pytest.mark.spark
def test_first_wins_deterministic(spark):
    rows = [("a", "u1", 3), ("a", "u1", 1), ("a", "u1", 2), ("b", "u2", 9)]
    df = spark.createDataFrame(rows, "warc_source string, url string, warc_offset int")
    got = first_wins(df, ["warc_source", "url"], [F.col("warc_offset").asc()]).collect()
    assert {(r["url"], r["warc_offset"]) for r in got} == {("u1", 1), ("u2", 9)}


@pytest.mark.spark
def test_domain_first_wins(spark):
    rows = [("d1", "u1", 1), ("d1", "u2", 2), ("d2", "u3", 5)]
    df = spark.createDataFrame(rows, "domain string, url string, ord int")
    got = dedupe_domain_first_wins(df, [F.col("ord").asc()]).collect()
    assert {r["url"] for r in got} == {"u1", "u3"}


@pytest.mark.spark
def test_merge_runs(spark):
    a = spark.createDataFrame([("d1", "u1")], "domain string, url string")
    b = spark.createDataFrame([("d1", "u9"), ("d2", "u2")], "domain string, url string")
    assert merge_runs(a, b).count() == 2


@pytest.mark.spark
def test_broadcast_probe_matches_cogroup_probe(spark):
    """The pure-JVM broadcast probe and the cogrouped pandas probe must
    agree bit-for-bit on the same serialized filters (same pmod-int64
    position arithmetic)."""
    from crawler_spark.operators.bloom import (
        build_blooms,
        probe_blooms,
        probe_blooms_broadcast,
    )

    seen = spark.createDataFrame(
        [(f"com,example,h{i % 97})/p/{i}",) for i in range(0, 4000, 2)], "surt string"
    )
    blooms = build_blooms(seen, cfg=CFG).cache()
    cand = spark.createDataFrame(
        [(f"com,example,h{i % 97})/p/{i}",) for i in range(1000, 3000)], "surt string"
    )
    a = {
        (r["surt"], r["_maybe_seen"])
        for r in probe_blooms(cand, blooms, cfg=CFG).collect()
    }
    b = {
        (r["surt"], r["_maybe_seen"])
        for r in probe_blooms_broadcast(cand, blooms, cfg=CFG).collect()
    }
    assert a == b
    # all truly-seen rows flagged maybe (no false negatives) in BOTH
    seen_set = {r["surt"] for r in seen.collect()}
    for surt, maybe in b:
        if surt in seen_set:
            assert maybe
    blooms.unpersist()


@pytest.mark.parametrize("form", [BLOOM, CUCKOO], ids=lambda f: f.mode)
def test_required_buckets_keeps_blobs_bounded(form):
    """Pure math: the derived bucket count caps the expected per-bucket
    blob bytes of the form at cfg.bloom_max_blob_bytes for any
    seen-count, growing as power-of-two multiples of the configured
    floor."""
    cfg = EngineConfig(num_host_buckets=64, bloom_max_blob_bytes=16 << 20)
    prev = 0
    for total in (0, 10**4, 10**6, 10**8, 10**10, 10**12):
        b = required_buckets(total, cfg, form)
        assert form.blob_bytes(total / b, 4, cfg) <= cfg.bloom_max_blob_bytes
        assert b % cfg.num_host_buckets == 0 and (b // cfg.num_host_buckets) & (
            (b // cfg.num_host_buckets) - 1
        ) == 0  # floor × power of two
        assert b >= prev
        prev = b
    # sanity at the north-rule scale: 10^10 keys stay ≤ 16 MB per blob
    assert form.blob_bytes(10**10 / required_buckets(10**10, cfg, form), 4, cfg) <= 16 << 20


@pytest.mark.spark
@pytest.mark.parametrize("form", [BLOOM, CUCKOO], ids=lambda f: f.mode)
def test_built_blob_sizes_bounded_across_simulated_growth(spark, form):
    """Actually build the form's filters at growing key counts with the
    derived bucket count and measure the serialized blobs: every blob
    stays under the ceiling (with hash-imbalance slack), across a growth
    that forces two bucket doublings."""
    from dataclasses import replace

    cfg = EngineConfig(num_host_buckets=4, bloom_max_blob_bytes=4096)
    for n in (200, 2000, 8000):
        b = required_buckets(n, cfg, form)
        keys = spark.range(n).select(
            F.concat(F.lit("com,ex)/k/"), F.col("id")).alias("surt")
        )
        built = form.build(keys, cfg=replace(cfg, num_host_buckets=b), headroom=4)
        max_blob = max(
            r["bits"] // 8
            for r in built.groupBy("bucket").agg(form.total_bits().alias("bits")).collect()
        )
        assert max_blob <= cfg.bloom_max_blob_bytes * 1.5, (n, b, max_blob)
    assert required_buckets(8000, cfg, form) > required_buckets(200, cfg, form)
