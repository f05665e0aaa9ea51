"""Partitioned cuckoo filter — the URL-seen structure's second form.

The north rule names a "partitioned Bloom/cuckoo URL-seen structure";
:mod:`crawler_spark.operators.bloom` is the Bloom form. This module is
the cuckoo form (Fan, Andersen, Kaminsky, Mitzenmacher, "Cuckoo Filter:
Practically Better Than Bloom", CoNEXT 2014 — public knowledge), with
the one capability Bloom fundamentally lacks: **deletion**. A crawl
frontier retracts seen-keys in real life — a fetch that permanently
fails after max retries, a recrawl invalidation, a politeness-blocked
host whose URLs must become eligible again — and with a Bloom the only
options are rebuild-from-exact or tombstone tables. A cuckoo filter
removes one fingerprint occurrence in O(1).

Same architecture as the Bloom sidecar, deliberately:

- keys hash-partitioned by ``bucket = pmod(xxhash64(key), B)`` (the
  Iceberg ``bucket(B, key)`` transform), one filter blob per bucket;
- the probe is pure JVM: broadcast the (bucket, nb, slots) rows, test
  the 8 candidate slots (2 cuckoo buckets × 4 slots) with codegen
  ``element_at`` comparisons — zero Python, zero per-row allocation,
  fuses into the enclosing WholeStageCodegen exactly like the Bloom
  word-probe;
- identical correctness contract: probe ``False`` ⇒ definitely new,
  probe ``True`` ⇒ maybe seen, confirmed by the exact bucket-pruned
  anti-join. False positives can never drop a URL; deletes can never
  resurrect one (a deleted key probes False only if its fingerprint
  occurrence is removed; a colliding survivor just means one extra
  maybe that the exact confirm resolves).

Layout: ``nb`` (power of two) cuckoo buckets × 4 slots of 16-bit
fingerprints stored as ``array<int>`` (0 = empty). Partial-key cuckoo
hashing: ``i1 = pmod(h1, nb)``, ``i2 = i1 XOR scramble(fp) mod nb`` —
nb being a power of two makes the XOR self-inverse, so ``i2``'s
alternate is ``i1`` without knowing which came first. ``scramble`` is a
single Murmur-style multiply kept inside int64 (fp < 2^16, constant
< 2^31 ⇒ product < 2^47 — ANSI-safe, bit-identical in numpy and JVM
long arithmetic).

Cost per key ≈ 19 bytes at the default load target vs the Bloom's
10 bits — bought back by a ~2^-13 FP rate (vs ~1% for the Bloom at
10 bits/key): at 10^10 seen keys the maybe-set entering the exact
confirm join shrinks by ~100×, which is the join you pay for every
round's candidates.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crawler_spark.config import DEFAULT, EngineConfig
from crawler_spark.operators.bloom import _hash_cols

CUCKOO_SCHEMA = "bucket int, nb long, n long, slots array<int>"

SLOTS_PER_BUCKET = 4
FP_MASK = 65535  # 16-bit fingerprints, 0 reserved for empty
FP_SCRAMBLE = 0x5BD1E995  # MurmurHash2 multiply constant (< 2^31)
LOAD_TARGET_PPM = 840_000  # size for ≤0.84 load; b=4 tables pack to ~0.95
MAX_KICKS = 500

# Slots-scheme version, stamped alongside the blobs when persisted (same
# contract as BLOOM_HASH_VERSION): v1 = (h1, h2)-seeded 16-bit partial-key
# scheme above. A different stamp must rebuild from the exact seen table.
CUCKOO_HASH_VERSION = 1


def _fp(h2: np.ndarray) -> np.ndarray:
    """h2 → fingerprint in [1, 65535] (0 means empty slot)."""
    return (h2 % FP_MASK + FP_MASK) % FP_MASK + 1


def _i1(h1: np.ndarray, nb: int) -> np.ndarray:
    return (h1 % nb + nb) % nb  # == Spark pmod for positive nb


def _alt(i: np.ndarray, fp: np.ndarray, nb: int) -> np.ndarray:
    """Partial-key alternate index; self-inverse because nb is 2^k."""
    return i ^ ((fp * FP_SCRAMBLE) & (nb - 1))


def _nb_for(n: int, headroom: int) -> int:
    """Cuckoo-bucket count: smallest power of two giving ≤ LOAD_TARGET
    occupancy for ``headroom × n`` keys."""
    need = max(16, -(-n * headroom * 1_000_000 // (SLOTS_PER_BUCKET * LOAD_TARGET_PPM)))
    nb = 1
    while nb < need:
        nb *= 2
    return nb


def table_bytes(n: float, headroom: int) -> int:
    """Serialized slot-table bytes of a bucket built for ``n`` keys at
    ``headroom`` (nb cuckoo buckets × 4 int32 slots)."""
    return _nb_for(math.ceil(n), headroom) * SLOTS_PER_BUCKET * 4


def _bulk_place(slots: np.ndarray, occ: np.ndarray, idx: np.ndarray, fp: np.ndarray) -> np.ndarray:
    """Vectorized greedy placement of (idx, fp) pairs into free slots,
    ≤4 per cuckoo bucket. Returns the boolean mask of keys NOT placed.
    One sort by idx; within-group rank r places at slot occ[idx]+r."""
    if len(idx) == 0:
        return np.zeros(0, dtype=bool)
    order = np.argsort(idx, kind="stable")
    si = idx[order]
    # rank of each row within its idx run
    first = np.ones(len(si), dtype=bool)
    first[1:] = si[1:] != si[:-1]
    grp_start = np.maximum.accumulate(np.where(first, np.arange(len(si)), 0))
    rank = np.arange(len(si)) - grp_start
    slot = occ[si] + rank
    ok = slot < SLOTS_PER_BUCKET
    slots[si[ok] * SLOTS_PER_BUCKET + slot[ok]] = fp[order][ok]
    np.add.at(occ, si[ok], 1)
    unplaced = np.zeros(len(idx), dtype=bool)
    unplaced[order[~ok]] = True
    return unplaced


def _insert_one(slots: np.ndarray, i: int, fp: int, nb: int) -> bool:
    """Classic bounded-kick insertion (deterministic victim rotation)."""
    for idx in (i, int(_alt(np.int64(i), np.int64(fp), nb))):
        base = idx * SLOTS_PER_BUCKET
        for s in range(SLOTS_PER_BUCKET):
            if slots[base + s] == 0:
                slots[base + s] = fp
                return True
    idx = i
    for kick in range(MAX_KICKS):
        s = kick % SLOTS_PER_BUCKET
        base = idx * SLOTS_PER_BUCKET
        fp, slots[base + s] = int(slots[base + s]), fp
        idx = int(_alt(np.int64(idx), np.int64(fp), nb))
        base = idx * SLOTS_PER_BUCKET
        for s2 in range(SLOTS_PER_BUCKET):
            if slots[base + s2] == 0:
                slots[base + s2] = fp
                return True
    return False


def _build_table(h1: np.ndarray, h2: np.ndarray, nb: int) -> np.ndarray | None:
    """Build one bucket's slot table. Two vectorized passes (primary
    index, then alternate) place the overwhelming majority at ≤0.84
    load; the residue runs the bounded eviction loop. None on overflow
    (→ all-maybe, caller rebuilds bigger, same as Bloom NULL-bits)."""
    slots = np.zeros(nb * SLOTS_PER_BUCKET, dtype=np.int32)
    occ = np.zeros(nb, dtype=np.int64)
    fp = _fp(h2.astype(np.int64))
    i1 = _i1(h1.astype(np.int64), nb)
    rest = _bulk_place(slots, occ, i1, fp)
    if rest.any():
        i2 = _alt(i1[rest], fp[rest], nb)
        rest2 = _bulk_place(slots, occ, i2, fp[rest])
        ri = np.flatnonzero(rest)[rest2]
        for j in ri:
            if not _insert_one(slots, int(i1[j]), int(fp[j]), nb):
                return None
    return slots


def build_cuckoo(
    seen: DataFrame,
    key_col: str = "surt",
    cfg: EngineConfig = DEFAULT,
    headroom: int = 1,
) -> DataFrame:
    """One cuckoo-filter row per partition bucket from the exact seen
    table. ``headroom > 1`` leaves slack for update_cuckoo to insert
    future rounds' deltas without a resize — the same contract as
    build_blooms(headroom=…)."""

    def per_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        nb = _nb_for(len(pdf), headroom)
        slots = _build_table(pdf["_h1"].to_numpy(), pdf["_h2"].to_numpy(), nb)
        return pd.DataFrame(
            {
                "bucket": [int(pdf["_bucket"].iat[0])],
                "nb": [nb],
                "n": [len(pdf)],
                "slots": [slots],
            }
        )

    hashed = _hash_cols(seen.select(key_col), key_col, cfg.num_host_buckets)
    return hashed.groupBy("_bucket").applyInPandas(per_bucket, CUCKOO_SCHEMA)


def update_cuckoo(
    filters: DataFrame,
    new_keys: DataFrame,
    key_col: str = "surt",
    cfg: EngineConfig = DEFAULT,
    headroom: int = 4,
) -> DataFrame:
    """Fold a round's key delta into the per-bucket filters — O(|delta| +
    filter bytes) per round, like update_blooms. A bucket that overflows
    its load target (or loses an eviction walk) emits ``slots = NULL``:
    probed as all-maybe until the caller rebuilds it from the exact
    table, so correctness never depends on the rebuild happening."""

    def per_bucket(new_pdf: pd.DataFrame, f_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(f_pdf) == 0:  # fresh bucket
            nb = _nb_for(len(new_pdf), headroom)
            slots = _build_table(new_pdf["_h1"].to_numpy(), new_pdf["_h2"].to_numpy(), nb)
            return pd.DataFrame(
                {"bucket": [int(new_pdf["_bucket"].iat[0])], "nb": [nb],
                 "n": [len(new_pdf)], "slots": [slots]}
            )
        nb = int(f_pdf["nb"].iat[0])
        n = int(f_pdf["n"].iat[0]) + len(new_pdf)
        bkt = int(f_pdf["bucket"].iat[0])
        if len(new_pdf) == 0:
            return f_pdf[["bucket", "nb", "n", "slots"]]
        cap = nb * SLOTS_PER_BUCKET * LOAD_TARGET_PPM // 1_000_000
        if f_pdf["slots"].iat[0] is None or n > cap:
            return pd.DataFrame({"bucket": [bkt], "nb": [nb], "n": [n], "slots": [None]})
        slots = np.asarray(f_pdf["slots"].iat[0], dtype=np.int32).copy()
        fp = _fp(new_pdf["_h2"].to_numpy().astype(np.int64))
        i1 = _i1(new_pdf["_h1"].to_numpy().astype(np.int64), nb)
        for j in range(len(fp)):
            if not _insert_one(slots, int(i1[j]), int(fp[j]), nb):
                return pd.DataFrame(
                    {"bucket": [bkt], "nb": [nb], "n": [n], "slots": [None]}
                )
        return pd.DataFrame({"bucket": [bkt], "nb": [nb], "n": [n], "slots": [slots]})

    hashed = _hash_cols(new_keys.select(key_col), key_col, cfg.num_host_buckets)
    return (
        hashed.groupBy("_bucket")
        .cogroup(filters.groupBy("bucket"))
        .applyInPandas(per_bucket, CUCKOO_SCHEMA)
    )


def delete_cuckoo(
    filters: DataFrame,
    del_keys: DataFrame,
    key_col: str = "surt",
    cfg: EngineConfig = DEFAULT,
) -> DataFrame:
    """Remove ONE fingerprint occurrence per deleted key — the operation
    the Bloom form cannot do. Contract (standard cuckoo-filter caveat):
    only delete keys that were actually inserted; deleting a never-
    inserted key that fingerprint-collides with a live one would evict
    the live key's occurrence (here it just becomes a maybe→exact-miss,
    never a correctness break, because membership truth lives in the
    exact seen table — the filter is an accelerator). Deletes are small
    per-round deltas (retracted fetches), so the per-key scan of ≤8
    slots runs as a plain loop in the cogrouped bucket kernel."""

    def per_bucket(del_pdf: pd.DataFrame, f_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(f_pdf) == 0:  # deletes for an unknown bucket: no-op
            return pd.DataFrame(
                {"bucket": pd.Series(dtype="int32"), "nb": pd.Series(dtype="int64"),
                 "n": pd.Series(dtype="int64"), "slots": pd.Series(dtype=object)}
            )
        nb = int(f_pdf["nb"].iat[0])
        bkt = int(f_pdf["bucket"].iat[0])
        n = int(f_pdf["n"].iat[0])
        if f_pdf["slots"].iat[0] is None or len(del_pdf) == 0:
            return pd.DataFrame(
                {"bucket": [bkt], "nb": [nb], "n": [max(0, n - len(del_pdf))],
                 "slots": [f_pdf["slots"].iat[0]]}
            )
        slots = np.asarray(f_pdf["slots"].iat[0], dtype=np.int32).copy()
        fp = _fp(del_pdf["_h2"].to_numpy().astype(np.int64))
        i1 = _i1(del_pdf["_h1"].to_numpy().astype(np.int64), nb)
        i2 = _alt(i1, fp, nb)
        removed = 0
        for j in range(len(fp)):
            f = np.int32(fp[j])
            for idx in (int(i1[j]), int(i2[j])):
                base = idx * SLOTS_PER_BUCKET
                hit = False
                for s in range(SLOTS_PER_BUCKET):
                    if slots[base + s] == f:
                        slots[base + s] = 0
                        removed += 1
                        hit = True
                        break
                if hit:
                    break
        return pd.DataFrame(
            {"bucket": [bkt], "nb": [nb], "n": [n - removed], "slots": [slots]}
        )

    hashed = _hash_cols(del_keys.select(key_col), key_col, cfg.num_host_buckets)
    return (
        hashed.groupBy("_bucket")
        .cogroup(filters.groupBy("bucket"))
        .applyInPandas(per_bucket, CUCKOO_SCHEMA)
    )


def probe_cuckoo_broadcast(
    candidates: DataFrame,
    filters: DataFrame,
    key_col: str = "surt",
    cfg: EngineConfig = DEFAULT,
    out_col: str = "_maybe_seen",
    bucket_out: str | None = None,
) -> DataFrame:
    """Pure-JVM cuckoo probe: broadcast the per-bucket slot arrays and
    test the 8 candidate slots with codegen expressions — the exact
    analog of probe_blooms_broadcast (no shuffle of the candidate set,
    no Python stage, blob crosses the wire once per executor). Unknown
    bucket ⇒ definitely-new (False); NULL slots ⇒ all-maybe (True)."""
    hashed = _hash_cols(candidates, key_col, cfg.num_host_buckets)
    b = F.broadcast(
        filters.select(
            F.col("bucket").alias("_cb"), F.col("nb").alias("_cnb"),
            F.col("slots").alias("_cslots"),
        )
    )
    j = hashed.join(b, F.col("_bucket") == F.col("_cb"), "left")
    nb = F.col("_cnb")
    fp = (F.pmod(F.col("_h2"), F.lit(FP_MASK)) + F.lit(1)).cast("int")
    i1 = F.pmod(F.col("_h1"), nb)
    # fp·M < 2^47 — in-range ANSI long arithmetic; nb is 2^k so pmod ≡ mask
    i2 = i1.bitwiseXOR(F.pmod(fp.cast("long") * F.lit(FP_SCRAMBLE), nb))
    hit = None
    for idx in (i1, i2):
        for s in range(SLOTS_PER_BUCKET):
            slot = F.element_at(
                F.col("_cslots"),
                (idx * F.lit(SLOTS_PER_BUCKET) + F.lit(s)).cast("int") + 1,
            )
            eq = slot == fp
            hit = eq if hit is None else (hit | eq)
    maybe = (
        F.when(F.col("_cb").isNull(), F.lit(False))
        .when(F.col("_cslots").isNull(), F.lit(True))
        .otherwise(hit)
    )
    out = j.withColumn(out_col, maybe)
    keep = [*candidates.columns, out_col]
    if bucket_out:
        out = out.withColumnRenamed("_bucket", bucket_out)
        keep.append(bucket_out)
    return out.select(*keep)


def probe_cuckoo(
    candidates: DataFrame,
    filters: DataFrame,
    key_col: str = "surt",
    cfg: EngineConfig = DEFAULT,
    out_col: str = "_maybe_seen",
    bucket_out: str | None = None,
) -> DataFrame:
    """Cogrouped per-bucket cuckoo probe — the beyond-broadcast form
    (exact analog of bloom.probe_blooms): at 10^10 seen keys the slot
    tables total ~190 GB and cannot ship to every executor, so the
    candidates shuffle by bucket (the same partitioning the exact
    confirm join reuses) and each bucket's blob crosses the wire once
    per bucket, never once per row. The membership arithmetic is the
    vectorized numpy twin of the JVM broadcast probe
    (:func:`contains_numpy`); unknown bucket ⇒ definitely-new, NULL
    slots (deferred overflow rebuild) ⇒ all-maybe — correctness stays
    filter-independent either way."""
    cand_cols = candidates.columns
    hashed = _hash_cols(candidates, key_col, cfg.num_host_buckets)
    out_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in hashed.schema.fields
    ) + f", {out_col} boolean"

    def per_bucket(cand_pdf: pd.DataFrame, f_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(cand_pdf) == 0:
            return cand_pdf.assign(**{out_col: pd.Series([], dtype=bool)})
        if len(f_pdf) == 0:
            return cand_pdf.assign(**{out_col: False})
        slots = f_pdf["slots"].iat[0]
        if slots is None:
            return cand_pdf.assign(**{out_col: True})
        nb = int(f_pdf["nb"].iat[0])
        hit = contains_numpy(
            nb, slots, cand_pdf["_h1"].to_numpy(), cand_pdf["_h2"].to_numpy()
        )
        return cand_pdf.assign(**{out_col: hit})

    probed = (
        hashed.groupBy("_bucket")
        .cogroup(filters.groupBy("bucket"))
        .applyInPandas(per_bucket, out_schema)
    )
    keep = [*cand_cols, out_col]
    if bucket_out:
        probed = probed.withColumnRenamed("_bucket", bucket_out)
        keep.append(bucket_out)
    return probed.select(*keep)


def contains_numpy(nb: int, slots, h1: np.ndarray, h2: np.ndarray) -> np.ndarray:
    """Reference membership (tests): same arithmetic as the JVM probe."""
    s = np.asarray(slots, dtype=np.int32)
    fp = _fp(h2.astype(np.int64))
    i1 = _i1(h1.astype(np.int64), nb)
    i2 = _alt(i1, fp, nb)
    out = np.zeros(len(fp), dtype=bool)
    for idx in (i1, i2):
        for k in range(SLOTS_PER_BUCKET):
            out |= s[idx * SLOTS_PER_BUCKET + k] == fp.astype(np.int32)
    return out
