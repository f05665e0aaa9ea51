"""Engine defaults, mapped from the reference's configuration.

The reference's wall-clock politeness (rate=2.0 req/s, burst=5 —
/root/reference/config.py:11-12, consumed by src/utils/rate_limiter.py:11-78)
is recast in *request units per BFS round*: a host may be scheduled at most
``burst + rate * round_duration_s`` URLs per round. Wall-clock pacing is
meaningless against a materialized corpus; the admitted-URL multiset per
host per round is the preserved semantic (SURVEY §2.9).
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class PolitenessConfig:
    rate_per_s: float = 2.0  # reference config.py:11
    burst: int = 5  # reference config.py:12
    round_duration_s: float = 30.0  # budget accounting window per BFS round

    @property
    def budget_per_round(self) -> int:
        """Max URLs admitted per host per round (requests, not seconds)."""
        return int(self.burst + self.rate_per_s * self.round_duration_s)


@dataclass(frozen=True)
class AdaptiveConfig:
    """Reference AdaptiveRateLimiter semantics (src/utils/rate_limiter.py:149-213):
    ×1.2 after 10 consecutive successes (cap 10/s), ×0.5 on any error
    (floor 0.5/s) — applied per round from the previous round's failure
    counts (deterministic function of the failures table)."""

    increase_factor: float = 1.2
    success_threshold: int = 10
    max_rate: float = 10.0
    decrease_factor: float = 0.5
    min_rate: float = 0.5


@dataclass(frozen=True)
class EngineConfig:
    num_host_buckets: int = 64  # bucket(N, host) partitioning of seen/frontier
    # Skew: hosts with more than this many frontier candidates in a round
    # are salted into `skew_salts` subgroups before the budget window
    # (two-phase exact top-k; SURVEY §4 custom piece #2).
    skew_threshold: int = 10_000
    skew_salts: int = 16
    # Bloom prefilter sizing (bits per key / hash count) for url_seen.
    bloom_bits_per_key: int = 10
    bloom_num_hashes: int = 6
    # Per-bucket filter blob ceiling (Bloom bits or cuckoo slots). num_host_buckets
    # is only the FLOOR of the bucket count: the frontier doubles it (rebucketing
    # seen+filters, a new snapshot) whenever the running seen estimate would push
    # a bucket's blob past this — at 10^10 seen keys a fixed 64-bucket
    # layout would mean ~200 MB single-binary-cell blobs.
    bloom_max_blob_bytes: int = 16 << 20
    # Probe strategy switchover: while the whole filter set fits under
    # this many bytes it is broadcast and probed JVM-side (no shuffle,
    # no Python); beyond it (≈10^9 seen keys at 10 bits/key per GB) the
    # cogrouped per-bucket probe takes over.
    bloom_broadcast_max_bytes: int = 1 << 30
    max_retry_attempts: int = 5  # reference src/warc_processor.py:45-46
    politeness: PolitenessConfig = PolitenessConfig()
    adaptive: AdaptiveConfig = AdaptiveConfig()


DEFAULT = EngineConfig()
