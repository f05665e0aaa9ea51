"""Partitioned Bloom filter for the URL-seen structure.

The reference's URL-seen is an in-memory ``set`` (O(1) membership,
/root/reference/src/crawler.py:54-55,181-186) — fine for one process,
impossible at a 10^10-URL frontier. The north rule's replacement:

- ``url_seen`` rows live in a table hash-partitioned by
  ``bucket = pmod(xxhash64(surt), B)`` (the Iceberg ``bucket(B, surt)``
  transform);
- each bucket carries a serialized Bloom sidecar, rebuilt/merged per BFS
  round and persisted via SnapshotStore (rebuildable from the exact table
  on resume);
- candidate membership runs as: cogrouped Bloom probe per bucket (no
  per-row blob duplication, no broadcast of the full filter set) →
  *definitely-new* rows skip the expensive exact anti-join entirely;
  *maybe-seen* rows (Bloom positives) are confirmed by an exact
  ``left_anti`` join against only their buckets — Bloom false positives
  can therefore never drop a URL, and the final seen-set is exact
  (north rule demands set equality with the reference).

Hashing: two independent 64-bit hashes computed JVM-side
(``xxhash64(key, seed)``), combined inside the probe/build kernels by
double hashing ``h_i = h1 + i·h2 (mod m)`` (Kirsch–Mitzenmacher), so the
Python side never hashes strings — it only does vectorized numpy bit math.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crawler_spark.config import DEFAULT, EngineConfig

BLOOM_SCHEMA = "bucket int, m long, n long, bits array<long>"

# Bloom blob scheme version. v2 = mod-reduced int64 double hashing
# (_positions below) over a binary blob; v3 keeps the same bit positions
# but stores the filter as little-endian int64 WORDS (array<long>) so the
# JVM probe is pure long arithmetic — the v2 probe extracted each byte
# via substring→hex→conv, 2 string allocations per hash per row, which
# made the probe allocation-bound and capped its multi-core scaling.
# Little-endian byte order makes the in-word bit index exactly pos % 64.
# Blobs from a different version would probe wrongly (v1: different
# positions → false NEGATIVES; v2: different container), silently
# breaking url_seen exactness. Persisted stores stamp this in the blooms
# table meta; a resume that finds a different (or missing) stamp must
# rebuild blooms from the exact seen table before probing.
BLOOM_HASH_VERSION = 3


def _words_to_bytes(cell) -> np.ndarray:
    """array<long> cell (arrow list / numpy) → uint8 view, little-endian."""
    return np.ascontiguousarray(np.asarray(cell, dtype="<i8")).view(np.uint8)


def _hash_cols(df: DataFrame, key_col: str, num_buckets: int) -> DataFrame:
    return df.withColumns(
        {
            "_bucket": F.pmod(F.xxhash64(F.col(key_col)), F.lit(num_buckets)).cast("int"),
            "_h1": F.xxhash64(F.col(key_col), F.lit(1)),
            "_h2": F.xxhash64(F.col(key_col), F.lit(2)),
        }
    )


def bucket_of(key_col: str, cfg: EngineConfig = DEFAULT):
    """The bucket expression (JVM-side) — the Iceberg ``bucket(B, key)``
    transform analog; url_seen rows carry it so the exact confirm join can
    prune to Bloom-positive buckets only."""
    return F.pmod(F.xxhash64(F.col(key_col)), F.lit(cfg.num_host_buckets)).cast("int")


def _positions(h1: np.ndarray, h2: np.ndarray, k: int, m: int) -> np.ndarray:
    """(n, k) bit positions via double hashing: ``(h1 + i·h2) mod m``
    computed overflow-free by reducing mod m BEFORE the multiply
    (pmod(h1,m) + i·pmod(h2,m) stays < k·m ≪ 2^63). Bit-identical to the
    JVM expression in :func:`probe_blooms_broadcast` — ANSI mode forbids
    wrapping arithmetic there, so both sides use the reduced form; any
    divergence would produce false NEGATIVES on probe."""
    mm = np.int64(m)
    h1m = (h1.astype(np.int64) % mm + mm) % mm
    h2m = (h2.astype(np.int64) % mm + mm) % mm
    i = np.arange(k, dtype=np.int64)[None, :]
    return (h1m[:, None] + i * h2m[:, None]) % mm


def build_blooms(
    seen: DataFrame,
    key_col: str = "surt",
    cfg: EngineConfig = DEFAULT,
    headroom: int = 1,
) -> DataFrame:
    """Build one Bloom row per bucket from the exact seen table.

    m is sized per bucket from its actual key count (bits_per_key ×
    headroom), so skewed buckets keep their false-positive rate. Pass
    headroom > 1 when the filter will be incrementally updated in place
    (update_blooms): keys can then be OR-ed in without resizing until the
    bucket holds headroom× its build-time count.
    """
    k = cfg.bloom_num_hashes
    bpk = cfg.bloom_bits_per_key

    def per_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        m = max(256, bpk * headroom * n)
        m = (m + 63) // 64 * 64  # whole int64 words
        bits = np.zeros(m // 8, dtype=np.uint8)
        pos = _positions(pdf["_h1"].to_numpy(), pdf["_h2"].to_numpy(), k, m).ravel()
        np.bitwise_or.at(bits, (pos >> 3).astype(np.int64), (1 << (pos & 7)).astype(np.uint8))
        return pd.DataFrame(
            {
                "bucket": [int(pdf["_bucket"].iat[0])],
                "m": [m],
                "n": [n],
                "bits": [bits.view("<i8")],
            }
        )

    hashed = _hash_cols(seen.select(key_col), key_col, cfg.num_host_buckets)
    return hashed.groupBy("_bucket").applyInPandas(per_bucket, BLOOM_SCHEMA)


def update_blooms(
    blooms: DataFrame,
    new_keys: DataFrame,
    key_col: str = "surt",
    cfg: EngineConfig = DEFAULT,
    headroom: int = 4,
) -> DataFrame:
    """Incrementally fold a round's key *delta* into the per-bucket blooms.

    Cost is O(|delta| + total bloom bytes) per round instead of the
    O(|seen|) full rebuild — at a 10^10-row seen table re-hashing every
    key every round is the difference between a bloom maintenance stage
    and a second crawl.

    Per bucket (cogroup):
    - bucket unknown → fresh filter sized ``bpk × headroom × n`` (headroom
      lets future rounds OR in without resizing);
    - delta fits (``(n_old + n_new) · bpk ≤ m``) → OR the new positions
      into the existing blob (positions depend only on (h1, h2, m));
    - would overflow past the target FP rate → emit the row with
      ``bits = NULL``: the caller rebuilds those buckets from the exact
      seen table (crawler does this; overflow is amortized-rare because
      capacity doubles-ish each rebuild). A NULL-bits bucket is never
      probed optimistically — probe treats it as all-maybe, so
      correctness never depends on the rebuild happening.
    """
    k = cfg.bloom_num_hashes
    bpk = cfg.bloom_bits_per_key

    def per_bucket(new_pdf: pd.DataFrame, bloom_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(bloom_pdf) == 0:  # fresh bucket
            n = len(new_pdf)
            m = max(256, bpk * headroom * n)
            m = (m + 63) // 64 * 64
            bits = np.zeros(m // 8, dtype=np.uint8)
            bkt = int(new_pdf["_bucket"].iat[0])
        else:
            m = int(bloom_pdf["m"].iat[0])
            n_old = int(bloom_pdf["n"].iat[0])
            n = n_old + len(new_pdf)
            bkt = int(bloom_pdf["bucket"].iat[0])
            if len(new_pdf) == 0:  # untouched bucket passes through
                return bloom_pdf[["bucket", "m", "n", "bits"]]
            if bloom_pdf["bits"].iat[0] is None or n * bpk > m:
                return pd.DataFrame(
                    {"bucket": [bkt], "m": [m], "n": [n], "bits": [None]}
                )
            bits = _words_to_bytes(bloom_pdf["bits"].iat[0]).copy()
        pos = _positions(new_pdf["_h1"].to_numpy(), new_pdf["_h2"].to_numpy(), k, m).ravel()
        np.bitwise_or.at(
            bits,
            (pos >> 3).astype(np.int64),
            (1 << (pos & 7)).astype(np.uint8),
        )
        return pd.DataFrame({"bucket": [bkt], "m": [m], "n": [n], "bits": [bits.view("<i8")]})

    hashed = _hash_cols(new_keys.select(key_col), key_col, cfg.num_host_buckets)
    return (
        hashed.groupBy("_bucket")
        .cogroup(blooms.groupBy("bucket"))
        .applyInPandas(per_bucket, BLOOM_SCHEMA)
    )


def probe_blooms_broadcast(
    candidates: DataFrame,
    blooms: DataFrame,
    key_col: str = "surt",
    cfg: EngineConfig = DEFAULT,
    out_col: str = "_maybe_seen",
    bucket_out: str | None = None,
) -> DataFrame:
    """Pure-JVM Bloom probe: broadcast-join the per-bucket word arrays and
    test the k bit positions with codegen column expressions.

    vs the cogrouped probe: NO shuffle of the candidate set, NO Python
    stage — the k word-indexing bit tests fuse into the enclosing
    WholeStageCodegen, and the blob crosses the wire once per executor
    (broadcast) instead of once per bucket-partition. This is the fast
    path while the total filter fits a broadcast
    (cfg.bloom_broadcast_max_bytes ≈ up to ~10^9 seen keys at 10 bits/key);
    beyond that the frontier falls back to the cogrouped probe
    (:func:`probe_blooms`), which never materializes the whole filter in
    one place. Position arithmetic is pmod-of-wrapped-int64, bit-identical
    to :func:`_positions`, so both probes read the same serialized blobs;
    the little-endian word layout makes the in-word bit index pos % 64.
    Every per-hash operation is long arithmetic — zero allocations per
    row, unlike the substring→hex→conv byte extraction it replaces, which
    allocated 2 strings per hash per row and made the probe
    allocation-bound (poor multi-core scaling on big candidate sets).

    NULL-bits buckets (deferred overflow rebuild) degrade to all-maybe;
    unknown buckets (empty filter) are definitely-new — same contract as
    the cogrouped probe.
    """
    k = cfg.bloom_num_hashes
    hashed = _hash_cols(candidates, key_col, cfg.num_host_buckets)
    b = F.broadcast(
        blooms.select(
            F.col("bucket").alias("_bb"), F.col("m").alias("_bm"), F.col("bits").alias("_bbits")
        )
    )
    j = hashed.join(b, F.col("_bucket") == F.col("_bb"), "left")
    h1, h2, m = F.col("_h1"), F.col("_h2"), F.col("_bm")
    one = F.lit(1).cast("long")
    h1m, h2m = F.pmod(h1, m), F.pmod(h2, m)  # overflow-free (ANSI-safe)
    allset = None
    for i in range(k):
        pos = F.pmod(h1m + F.lit(i) * h2m, m)
        word = F.element_at(F.col("_bbits"), (pos / F.lit(64)).cast("int") + 1)
        mask = F.call_function("shiftleft", one, F.pmod(pos, F.lit(64)).cast("int"))
        bit = word.bitwiseAND(mask) != 0
        allset = bit if allset is None else (allset & bit)
    maybe = (
        F.when(F.col("_bb").isNull(), F.lit(False))
        .when(F.col("_bbits").isNull(), F.lit(True))
        .otherwise(allset)
    )
    out = j.withColumn(out_col, maybe)
    keep = [*candidates.columns, out_col]
    if bucket_out:
        out = out.withColumnRenamed("_bucket", bucket_out)
        keep.append(bucket_out)
    return out.select(*keep)


def probe_blooms(
    candidates: DataFrame,
    blooms: DataFrame,
    key_col: str = "surt",
    cfg: EngineConfig = DEFAULT,
    out_col: str = "_maybe_seen",
    bucket_out: str | None = None,
) -> DataFrame:
    """Tag each candidate with Bloom membership (False ⇒ definitely new).

    Cogrouped per bucket: the bloom blob crosses the wire once per bucket,
    not once per row; candidates shuffle only by bucket (same partitioning
    the exact confirm join reuses). A bucket with NULL bits (deferred
    overflow rebuild, see update_blooms) degrades to all-maybe — the exact
    confirm join still decides, so correctness is bloom-independent.

    bucket_out: when set, the bucket id survives in the output under that
    name (the confirm join uses it to prune the seen side).
    """
    k = cfg.bloom_num_hashes
    cand_cols = candidates.columns
    hashed = _hash_cols(candidates, key_col, cfg.num_host_buckets)
    out_schema = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in hashed.schema.fields
    ) + f", {out_col} boolean"

    def per_bucket(cand_pdf: pd.DataFrame, bloom_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(cand_pdf) == 0:
            return cand_pdf.assign(**{out_col: pd.Series([], dtype=bool)})
        if len(bloom_pdf) == 0:
            return cand_pdf.assign(**{out_col: False})
        if bloom_pdf["bits"].iat[0] is None:
            return cand_pdf.assign(**{out_col: True})
        m = int(bloom_pdf["m"].iat[0])
        bits = _words_to_bytes(bloom_pdf["bits"].iat[0])
        pos = _positions(cand_pdf["_h1"].to_numpy(), cand_pdf["_h2"].to_numpy(), k, m)
        byte_idx = (pos >> 3).astype(np.int64)
        mask = (1 << (pos & 7)).astype(np.uint8)
        hit = (bits[byte_idx] & mask) == mask
        return cand_pdf.assign(**{out_col: hit.all(axis=1)})

    probed = (
        hashed.groupBy("_bucket")
        .cogroup(blooms.groupBy("bucket"))
        .applyInPandas(per_bucket, out_schema)
    )
    keep = [*cand_cols, out_col]
    if bucket_out:
        probed = probed.withColumnRenamed("_bucket", bucket_out)
        keep.append(bucket_out)
    return probed.select(*keep)
