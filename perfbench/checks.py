"""Output checks, run untimed after each operation.

Each check takes plain Python values collected from the program's
outputs and returns a list of problems; an empty list means the output is
correct. ``self_test`` plants one known defect into a copy of real output
and demands that the matching check reports it, so a check that silently
passes everything fails the run instead.
"""

from __future__ import annotations

from dataclasses import dataclass

from crawler_spark.functions.url import canonicalize_one
from crawler_spark.oracle.reference_detector import detect
from crawler_spark.patterns import CONFIDENCE_ORDER
from tests.oracle_crawl import oracle_crawl

from perfbench.inputs import CrawlOracleInputs

# --------------------------------------------------------------- crawl --


@dataclass
class CrawlExpectation:
    admitted: list[int]  # admitted count per round
    sealed: list[set[tuple[str, str]]]  # (host, surt) written to url_seen per round
    seen: set[str]


def expect_crawl(
    oi: CrawlOracleInputs, budget: int, max_attempts: int, rounds: int,
    round_duration_s: float,
) -> CrawlExpectation:
    """The pure-Python oracle crawl over the same generated inputs."""
    schedules, seen, _ = oracle_crawl(
        oi.seeds, oi.page_urls, oi.links, oi.robots, budget, max_attempts, rounds,
        round_duration_s=round_duration_s,
    )
    sealed = [
        {
            (c.host, c.surt)
            for c in sched
            if c.url in oi.page_urls or c.failure_count + 1 >= max_attempts
        }
        for sched in schedules
    ]
    return CrawlExpectation([len(s) for s in schedules], sealed, seen)


def check_crawl(
    exp: CrawlExpectation, admitted: list[int], seen_rows: list[tuple[str, str, int]]
) -> list[str]:
    """``seen_rows`` = (host, surt, round) of the final url_seen table."""
    problems = []
    if admitted != exp.admitted:
        problems.append(f"admitted per round {admitted} != oracle {exp.admitted}")
    by_round: dict[int, set] = {}
    for host, surt, rnd in seen_rows:
        by_round.setdefault(rnd, set()).add((host, surt))
    for rnd, want in enumerate(exp.sealed, start=1):
        got = by_round.get(rnd, set())
        if got != want:
            problems.append(
                f"round {rnd} schedule differs: {len(got - want)} extra, "
                f"{len(want - got)} missing"
            )
    surts = [s for _, s, _ in seen_rows]
    if len(surts) != len(set(surts)) or set(surts) != exp.seen:
        problems.append(
            f"url_seen has {len(surts)} rows / {len(set(surts))} surts, "
            f"oracle {len(exp.seen)}"
        )
    return problems


# ------------------------------------------------------------ classify --


def expect_classify(pages: list[tuple], min_confidence: str = "medium") -> dict:
    """Reference-detector result rows for the flagship plan, keyed by
    (warc_source, url): response records whose first 1000 characters
    mention html, detected Next.js at or above ``min_confidence``, first
    record per (WARC, url) in file order. ``pages`` holds
    (url, warc_source, warc_offset, rec_type, text) tuples."""
    min_rank = CONFIDENCE_ORDER[min_confidence]
    best: dict[tuple[str, str], tuple] = {}
    for url, warc, off, rec_type, text in pages:
        if rec_type != "response" or "html" not in (text or "")[:1000].lower():
            continue
        d = detect(text, url)
        if not d["is_nextjs"] or CONFIDENCE_ORDER.get(d["confidence"], 0) < min_rank:
            continue
        key = (warc, url)
        if key not in best or off < best[key][0]:
            c = canonicalize_one(url)
            best[key] = (
                off,
                (c["domain"], c["schema"], d["confidence"], tuple(d["indicators"]),
                 d["build_id"], d["version"]),
            )
    return {k: v[1] for k, v in best.items()}


def classify_row_key(r: dict) -> tuple:
    return (r["warc_source"], r["url"])


def classify_row_value(r: dict) -> tuple:
    return (
        r["domain"], r["schema"], r["confidence"], tuple(r["indicators"] or ()),
        r["build_id"], r["version"],
    )


def check_classify(expected: dict, rows: list[dict], sample_every: int = 10) -> list[str]:
    """Exact result count, exact result keys, and exact rows on every
    ``sample_every``-th expected key in sorted order."""
    problems = []
    if len(rows) != len(expected):
        problems.append(f"{len(rows)} result rows, reference {len(expected)}")
    got = {classify_row_key(r): classify_row_value(r) for r in rows}
    if len(got) != len(rows):
        problems.append("duplicate (warc_source, url) result rows")
    if set(got) != set(expected):
        problems.append("result keys differ from the reference")
    for key in sorted(expected)[::sample_every]:
        if got.get(key) != expected[key]:
            problems.append(f"row {key} = {got.get(key)} != reference {expected[key]}")
            break
    return problems


def check_sink_rows(n: int, json_lines: int, csv_lines: int) -> list[str]:
    if json_lines == n and csv_lines == n:
        return []
    return [f"sinks wrote {json_lines} JSON / {csv_lines} CSV rows for {n} results"]


# ------------------------------------------------------------- recrawl --


def check_retract(retracted: set[str], seen_surts: list[str]) -> list[str]:
    left = retracted & set(seen_surts)
    return [f"{len(left)} retracted surts remain in url_seen"] if left else []


def check_seen_filter(seen_surts: list[str], probe_hits: list[bool]) -> list[str]:
    problems = []
    if len(seen_surts) != len(set(seen_surts)):
        problems.append(f"{len(seen_surts) - len(set(seen_surts))} duplicate surts in url_seen")
    misses = sum(1 for h in probe_hits if not h)
    if misses or len(probe_hits) != len(seen_surts):
        problems.append(
            f"cuckoo filter: {misses} false negatives over {len(probe_hits)} probes "
            f"of {len(seen_surts)} url_seen rows"
        )
    return problems


# ----------------------------------------------------------- self-test --


def _flip(conf: str) -> str:
    return "medium" if conf == "high" else "high"


def self_test_crawl(exp: CrawlExpectation, admitted, seen_rows) -> list[str]:
    if not seen_rows or check_crawl(exp, admitted, seen_rows[1:]):
        return []
    return ["crawl check accepted url_seen with one row dropped"]


def self_test_classify(expected: dict, rows: list[dict], sample_every: int = 10) -> list[str]:
    keys = sorted(expected)[::sample_every]
    if not keys:
        return ["classify self-test: no sampled rows"]
    planted = [dict(r) for r in rows]
    for r in planted:
        if classify_row_key(r) == keys[0]:
            r["confidence"] = _flip(r["confidence"])
    if check_classify(expected, planted, sample_every):
        return []
    return ["classify check accepted a flipped confidence"]


def self_test_retract(retracted: set[str], seen_surts: list[str]) -> list[str]:
    if not retracted or check_retract(retracted, seen_surts + [min(retracted)]):
        return []
    return ["retract check accepted a retracted surt left in url_seen"]
