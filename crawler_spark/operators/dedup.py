"""Dedupe operators — the reference's three membership policies, Spark-first.

Reference semantics (SURVEY §2.4):
- global URL-seen (src/crawler.py:54-55,181-186): drop a row if its URL was
  ever emitted → filter-prefiltered exact anti-join against ``url_seen``,
  the filter in one of two forms (:data:`BLOOM`, :data:`CUCKOO`) — this
  module is the one place that knows what differs between them;
- per-WARC (src/warc_processor.py:345-361): duplicates allowed across WARCs,
  first record wins within one → partition-local window;
- domain-first-wins (examples/bulk_warc_search.py:178-188): one result per
  domain, earliest wins → window over domain.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

from crawler_spark.config import DEFAULT, EngineConfig
from crawler_spark.operators.bloom import (
    BLOOM_HASH_VERSION,
    build_blooms,
    probe_blooms,
    probe_blooms_broadcast,
    update_blooms,
)
from crawler_spark.operators.cuckoo import (
    CUCKOO_HASH_VERSION,
    build_cuckoo,
    delete_cuckoo,
    probe_cuckoo,
    probe_cuckoo_broadcast,
    table_bytes,
    update_cuckoo,
)
from crawler_spark.sources.tables import SnapshotStore


@dataclass(frozen=True)
class FilterForm:
    """One URL-seen filter form: what differs between the Bloom and the
    cuckoo sidecar, so callers never branch on which form is active.

    Both forms share the layout (one blob row per ``bucket``) and the
    contract: probe False ⇒ definitely new, True ⇒ maybe seen (confirmed
    by the exact table); a bucket whose incremental update overflows
    emits a NULL ``blob_col`` and probes as all-maybe until rebuilt."""

    mode: str  # FrontierCrawler(seen_mode=...) value
    table: str  # snapshot table holding the per-bucket blobs
    hash_version: int  # stamped in the table meta; a mismatch forces a rebuild
    blob_col: str
    total_bits: Callable[[], Column]  # aggregate over the table's rows
    blob_bytes: Callable[[float, int, EngineConfig], float]  # (n keys, headroom, cfg)
    build: Callable[..., DataFrame]
    update: Callable[..., DataFrame]
    probe_broadcast: Callable[..., DataFrame]
    probe_cogroup: Callable[..., DataFrame]
    delete: Callable[..., DataFrame] | None = None


BLOOM = FilterForm(
    mode="bloom",
    table="blooms",
    hash_version=BLOOM_HASH_VERSION,
    blob_col="bits",
    total_bits=lambda: F.sum("m"),
    blob_bytes=lambda n, headroom, cfg: cfg.bloom_bits_per_key * headroom * n / 8,
    build=build_blooms,
    update=update_blooms,
    probe_broadcast=probe_blooms_broadcast,
    probe_cogroup=probe_blooms,
)
CUCKOO = FilterForm(
    mode="cuckoo",
    table="cuckoo",
    hash_version=CUCKOO_HASH_VERSION,
    blob_col="slots",
    total_bits=lambda: F.sum(F.coalesce(F.size("slots"), F.lit(0))) * 32,
    blob_bytes=lambda n, headroom, cfg: table_bytes(n, headroom),
    build=build_cuckoo,
    update=update_cuckoo,
    probe_broadcast=probe_cuckoo_broadcast,
    probe_cogroup=probe_cuckoo,
    delete=delete_cuckoo,
)
FORMS = {f.mode: f for f in (BLOOM, CUCKOO)}


def required_buckets(
    total_keys: int, cfg: EngineConfig = DEFAULT, form: FilterForm = BLOOM, headroom: int = 4
) -> int:
    """Smallest power-of-two multiple of cfg.num_host_buckets that keeps
    the expected per-bucket blob of ``form`` under cfg.bloom_max_blob_bytes
    at ``total_keys`` (with the incremental-update headroom factor). The
    frontier rebuckets seen+filters when this outgrows the current count —
    growth is geometric, so rebuild cost amortizes like a vector resize.
    Doubling stops at one expected key per bucket: a cuckoo table has a
    fixed minimum size that no bucket count gets under."""
    b = max(1, cfg.num_host_buckets)
    while total_keys >= b and form.blob_bytes(total_keys / b, headroom, cfg) > (
        cfg.bloom_max_blob_bytes
    ):
        b *= 2
    return b


def write_filter(
    store: SnapshotStore,
    form: FilterForm,
    filters: DataFrame,
    cfg: EngineConfig,
    exact: Callable[[], DataFrame],
    meta: dict | None = None,
    key_col: str = "surt",
) -> int:
    """Write ``filters`` as the next version of ``form.table``; returns it.

    Buckets whose blob came out NULL (an update past its capacity, or a
    cuckoo build that lost an eviction walk) are rebuilt with 4× headroom
    from ``exact()`` — the exact key table, with ``key_col`` and a
    ``bucket`` column — and written as a second version. The meta carries
    the hash version, the bucket count and ``total_bits`` (the probe
    gate's size input, read back next round without a job). Overflow
    detection and the bit total ride the write's Observation, so the
    common path is one job."""
    meta = {**(meta or {}), "hash_version": form.hash_version,
            "num_buckets": cfg.num_host_buckets}
    obs = Observation()
    v = store.write(
        form.table,
        filters.observe(
            obs,
            form.total_bits().alias("bits"),
            F.sum(F.when(F.col(form.blob_col).isNull(), 1).otherwise(0)).alias("overflow"),
        ),
        meta=meta,
    )
    vals = obs.get
    if int(vals["overflow"] or 0):
        written = store.read(filters.sparkSession, form.table)
        overflow = [
            r[0] for r in written.where(F.col(form.blob_col).isNull()).select("bucket").collect()
        ]
        rebuilt = form.build(
            exact().where(F.col("bucket").isin(overflow)), key_col, cfg, headroom=4
        )
        obs = Observation()
        v = store.write(
            form.table,
            written.where(~F.col("bucket").isin(overflow))
            .unionByName(rebuilt)
            .observe(obs, form.total_bits().alias("bits")),
            meta=meta,
        )
        vals = obs.get
    store.amend_meta(form.table, {"total_bits": int(vals["bits"] or 0)}, version=v)
    return v


def first_wins(df: DataFrame, keys: list[str], order: list[Column]) -> DataFrame:
    """Deterministic first-wins dedupe (the order-sensitive analog of the
    reference's 'if url not in seen: seen.add(url)' insertion order)."""
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1).drop("_rn")
    )


def filter_unseen(
    candidates: DataFrame,
    seen: DataFrame | None,
    filters: DataFrame | None = None,
    key_col: str = "surt",
    cfg: EngineConfig = DEFAULT,
    form: FilterForm = BLOOM,
) -> DataFrame:
    """Rows of ``candidates`` whose key is NOT in ``seen`` — exactly.

    With filters (``form``'s table): probe first (broadcast); probe-negative
    rows are provably unseen and bypass the anti-join (at a 10^10-row seen
    table this is the difference between shuffling the whole frontier and
    shuffling only the ~few %% of positives). Positive rows are confirmed
    exactly, so false positives never drop a URL and a cuckoo delete never
    resurrects one. :func:`filter_unseen_pruned` is the bucket-pruned,
    size-gated variant the frontier loop runs.

    ``seen`` must expose ``key_col``; candidates carrying a null key are
    dropped (unparseable URLs can never be scheduled).
    """
    cand = candidates.where(F.col(key_col).isNotNull())
    if seen is None:
        return cand
    seen_keys = seen.select(key_col)
    if filters is None:
        return cand.join(seen_keys, key_col, "left_anti")
    probed = form.probe_broadcast(cand, filters, key_col, cfg)
    definitely_new = probed.where(~F.col("_maybe_seen")).drop("_maybe_seen")
    maybe = probed.where(F.col("_maybe_seen")).drop("_maybe_seen")
    confirmed_new = maybe.join(seen_keys, key_col, "left_anti")
    return definitely_new.unionByName(confirmed_new)


@dataclass
class UnseenResult:
    unseen: DataFrame  # exact; carries a ``bucket`` column
    probed: DataFrame  # cached — caller unpersists after the round
    maybe_buckets: list[int]  # buckets with ≥1 probe positive


def filter_unseen_pruned(
    candidates: DataFrame,
    seen: DataFrame,
    filters: DataFrame,
    key_col: str = "surt",
    cfg: EngineConfig = DEFAULT,
    total_bits: int | None = None,
    form: FilterForm = BLOOM,
) -> UnseenResult:
    """The frontier-loop variant of :func:`filter_unseen`: exact, with the
    seen side *pruned to probe-positive buckets* before the anti-join.
    Either form yields the identical exact unseen set, because
    correctness lives in the confirm join, not the filter.

    ``seen`` must carry a ``bucket`` column (bloom.bucket_of, written
    bucket-sorted): the ``bucket IN (...)`` predicate pushes down to
    parquet row-group stats — the Iceberg ``bucket(B, surt)`` partition-
    pruning analog. At a 10^10-row seen table this is what keeps the
    confirm join from shuffling the whole table when only a few buckets
    have positives (early rounds: most candidates are probe-negative and
    skip the join entirely).

    ``probed`` is cached here because BOTH output branches (definitely-new
    ∪ confirmed-new) read it — without the cache the candidate subtree
    (window dedupe + filter probe) would execute twice per action, and
    any Observation planted upstream would double-fire.
    """
    cand = candidates.where(F.col(key_col).isNotNull())
    # Probe strategy: broadcast+codegen while the filter set is small
    # enough to ship to every executor; cogrouped per-bucket probe beyond
    # that (no single place ever holds the whole filter). The size comes
    # from the filter snapshot meta when the caller has it (piggybacked on
    # the previous write's Observation — zero jobs); the fallback is a
    # 1-row aggregate job over the (tiny, B-row) filter table.
    if total_bits is None:
        total_bits = filters.agg(form.total_bits()).first()[0] or 0
    probe = (
        form.probe_broadcast
        if total_bits // 8 <= cfg.bloom_broadcast_max_bytes
        else form.probe_cogroup
    )
    probed = probe(cand, filters, key_col, cfg, bucket_out="bucket").persist()
    maybe_buckets = [
        r[0]
        for r in probed.where(F.col("_maybe_seen")).select("bucket").distinct().collect()
    ]
    definitely_new = probed.where(~F.col("_maybe_seen")).drop("_maybe_seen")
    if maybe_buckets:
        seen_keys = seen.select("bucket", key_col).where(
            F.col("bucket").isin(maybe_buckets)
        )
        confirmed_new = (
            probed.where(F.col("_maybe_seen"))
            .drop("_maybe_seen")
            .join(seen_keys, ["bucket", key_col], "left_anti")
        )
        unseen = definitely_new.unionByName(confirmed_new)
    else:
        unseen = definitely_new
    return UnseenResult(unseen=unseen, probed=probed, maybe_buckets=maybe_buckets)


def dedupe_per_warc(results: DataFrame) -> DataFrame:
    """EP2 policy: first record wins within (warc_source, url)."""
    return first_wins(results, ["warc_source", "url"], [F.col("warc_offset").asc()])


def dedupe_domain_first_wins(results: DataFrame, order: list[Column]) -> DataFrame:
    """EP3 policy: one row per domain, earliest by ``order`` wins."""
    return first_wins(results, ["domain"], order)


def merge_runs(a: DataFrame, b: DataFrame, key: str = "domain") -> DataFrame:
    """Result merge across runs — the documented jq recipe
    ``jq -s 'add | unique_by(.domain)'`` (reference COMPARISON.md:270-274)."""
    return a.unionByName(b, allowMissingColumns=True).dropDuplicates([key])
