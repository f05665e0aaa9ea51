"""Cuckoo-filter URL-seen: no-false-negative, delete, JVM/numpy parity."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from crawler_spark.config import EngineConfig
from crawler_spark.operators.cuckoo import (
    build_cuckoo,
    contains_numpy,
    delete_cuckoo,
    probe_cuckoo_broadcast,
    update_cuckoo,
)
from crawler_spark.operators.dedup import CUCKOO, filter_unseen

CFG = EngineConfig(num_host_buckets=8)


def _keys(spark, lo, hi, tag="p"):
    return spark.range(lo, hi).select(
        F.concat(F.lit("com,site"), F.col("id"), F.lit(")/"), F.lit(tag)).alias("surt")
    )


@pytest.fixture(scope="module")
def seen(spark):
    df = _keys(spark, 0, 5000).cache()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def filters(spark, seen):
    f = build_cuckoo(seen, cfg=CFG).cache()
    f.count()
    yield f
    f.unpersist()


@pytest.mark.spark
def test_no_false_negatives(spark, seen, filters):
    """Every inserted key must probe maybe=True — a false negative would
    silently re-crawl (or worse, re-emit) a seen URL."""
    probed = probe_cuckoo_broadcast(seen, filters, cfg=CFG)
    assert probed.where(~F.col("_maybe_seen")).count() == 0


@pytest.mark.spark
def test_unknown_bucket_and_fp_rate(spark, filters):
    """Fresh keys are mostly definitely-new; 16-bit fingerprints in 8
    slots bound the FP rate far under 1%% (expected ~8/2^16)."""
    fresh = _keys(spark, 10_000, 20_000, tag="new")
    probed = probe_cuckoo_broadcast(fresh, filters, cfg=CFG)
    fp = probed.where(F.col("_maybe_seen")).count()
    assert fp / 10_000 < 0.01


@pytest.mark.spark
def test_jvm_probe_matches_numpy(spark, seen, filters):
    """The codegen probe and the reference numpy kernel are the same
    arithmetic — any divergence is a correctness bug (false negatives)."""
    mixed = seen.limit(500).unionByName(_keys(spark, 7000, 7500, tag="x"))
    probed = probe_cuckoo_broadcast(mixed, filters, cfg=CFG)
    rows = (
        probed.withColumns(
            {
                "_b": F.pmod(F.xxhash64("surt"), F.lit(CFG.num_host_buckets)),
                "_h1": F.xxhash64("surt", F.lit(1)),
                "_h2": F.xxhash64("surt", F.lit(2)),
            }
        )
        .collect()
    )
    blobs = {r["bucket"]: (r["nb"], r["slots"]) for r in filters.collect()}
    for r in rows:
        nb, slots = blobs[int(r["_b"])]
        want = bool(
            contains_numpy(
                nb, slots, np.array([r["_h1"]]), np.array([r["_h2"]])
            )[0]
        )
        assert r["_maybe_seen"] == want, r["surt"]


@pytest.mark.spark
def test_delete_then_probe(spark, seen, filters):
    """Deletes remove fingerprint occurrences: deleted keys flip to
    definitely-new (minus rare fp collisions with survivors), and NO
    surviving key may become a false negative."""
    deleted = seen.where(F.xxhash64("surt", F.lit(99)) % 10 == 0).cache()
    n_del = deleted.count()
    assert n_del > 100
    f2 = delete_cuckoo(filters, deleted, cfg=CFG).cache()
    survivors = seen.join(deleted, "surt", "left_anti")
    probed_surv = probe_cuckoo_broadcast(survivors, f2, cfg=CFG)
    assert probed_surv.where(~F.col("_maybe_seen")).count() == 0
    probed_del = probe_cuckoo_broadcast(deleted, f2, cfg=CFG)
    still_maybe = probed_del.where(F.col("_maybe_seen")).count()
    assert still_maybe / n_del < 0.05  # only fp-collisions survive
    # n bookkeeping: total n drops by exactly the removed count
    n_total = sum(r["n"] for r in f2.collect())
    assert n_total <= 5000 - n_del * 0.95
    deleted.unpersist()
    f2.unpersist()


@pytest.mark.spark
def test_update_delta_and_passthrough(spark, seen, filters):
    """update_cuckoo folds a delta in; untouched buckets pass through
    bit-identically; the union has no false negatives."""
    f_head = build_cuckoo(seen, cfg=CFG, headroom=4).cache()
    delta = _keys(spark, 5000, 6000, tag="d")
    f2 = update_cuckoo(f_head, delta, cfg=CFG).cache()
    union = seen.unionByName(delta)
    probed = probe_cuckoo_broadcast(union, f2, cfg=CFG)
    assert probed.where(~F.col("_maybe_seen")).count() == 0
    f_head.unpersist()
    f2.unpersist()


@pytest.mark.spark
def test_overflow_goes_null_all_maybe(spark, seen):
    """A bucket past its load target emits NULL slots and probes as
    all-maybe — correctness degrades to the exact join, never drops."""
    f1 = build_cuckoo(seen, cfg=CFG, headroom=1)
    big_delta = _keys(spark, 50_000, 80_000, tag="big")
    f2 = update_cuckoo(f1, big_delta, cfg=CFG).cache()
    assert f2.where(F.col("slots").isNull()).count() > 0
    probed = probe_cuckoo_broadcast(
        seen.unionByName(big_delta), f2, cfg=CFG
    )
    assert probed.where(~F.col("_maybe_seen")).count() == 0
    f2.unpersist()


@pytest.mark.spark
def test_filter_unseen_exactness(spark, seen, filters):
    """probe + exact confirm == plain anti-join, bit-exactly — the
    filter is an accelerator, never the truth."""
    cand = _keys(spark, 4000, 11_000)  # 1000 seen + 6000 new
    got = {
        r["surt"]
        for r in filter_unseen(cand, seen, filters, cfg=CFG, form=CUCKOO).collect()
    }
    want = {r["surt"] for r in cand.join(seen, "surt", "left_anti").collect()}
    assert got == want
    assert len(want) == 6000


@pytest.mark.spark
def test_crawl_retraction_flow(spark):
    """The crawl-shaped delete story end-to-end: URLs seen in crawl 1,
    a failed-fetch subset retracted, crawl 2's candidates re-admit
    exactly the retracted + brand-new URLs — set-exact against the
    anti-join truth, with the filter maintained incrementally (build →
    delete → update), never rebuilt."""
    crawl1 = _keys(spark, 0, 3000)
    f = build_cuckoo(crawl1, cfg=CFG, headroom=4)
    # 300 fetches failed permanently: retract so the next crawl retries
    failed = crawl1.where(F.xxhash64("surt") % 10 == 3).cache()
    n_failed = failed.count()
    assert n_failed > 100
    f = delete_cuckoo(f, failed, cfg=CFG)
    seen = crawl1.join(failed, "surt", "left_anti").cache()
    # crawl 2 discovers: overlap with seen, the failed set, fresh URLs
    cand = _keys(spark, 2000, 4000)
    got = {r["surt"] for r in filter_unseen(cand, seen, f, cfg=CFG, form=CUCKOO).collect()}
    want = {r["surt"] for r in cand.join(seen, "surt", "left_anti").collect()}
    assert got == want
    # fold crawl 2's admissions in incrementally and verify no false
    # negatives on the union
    f2 = update_cuckoo(f, cand.join(seen, "surt", "left_anti"), cfg=CFG)
    all_seen = seen.unionByName(cand).distinct()
    assert (
        probe_cuckoo_broadcast(all_seen, f2, cfg=CFG)
        .where(~F.col("_maybe_seen"))
        .count()
        == 0
    )
    failed.unpersist()
    seen.unpersist()


@pytest.mark.spark
def test_pruned_unseen_stage_bloom_cuckoo_equivalence(spark, seen, filters):
    """The frontier's bucket-pruned unseen stage is filter-structure
    agnostic: the cuckoo form (form=CUCKOO) yields the IDENTICAL exact
    unseen set as the Bloom form — correctness lives in the confirm
    join, the filter only prices it."""
    from crawler_spark.operators.bloom import bucket_of, build_blooms
    from crawler_spark.operators.dedup import filter_unseen_pruned

    seen_b = seen.withColumn("bucket", bucket_of("surt", CFG))
    cand = _keys(spark, 4500, 9000)
    blooms = build_blooms(seen, cfg=CFG)
    r_bloom = filter_unseen_pruned(cand, seen_b, blooms, cfg=CFG)
    r_cuckoo = filter_unseen_pruned(cand, seen_b, filters, cfg=CFG, form=CUCKOO)
    got_b = {r["surt"] for r in r_bloom.unseen.collect()}
    got_c = {r["surt"] for r in r_cuckoo.unseen.collect()}
    want = {r["surt"] for r in cand.join(seen, "surt", "left_anti").collect()}
    assert got_b == want and got_c == want
    # the cuckoo's 2^-13 FP rate prunes to no MORE buckets than the
    # Bloom's ~1%% FP rate does on the same candidates
    assert len(r_cuckoo.maybe_buckets) <= len(r_bloom.maybe_buckets)
    r_bloom.probed.unpersist()
    r_cuckoo.probed.unpersist()
