"""Per-layer metrics of the traced run.

``LAYER_METRICS`` lists every per-layer metric with the layer (module) it
describes, the end-to-end metric it should move and the workloads on
which it should move it. ``BENCHMARK.json``'s ``per_layer`` list is this
table's names, units and directions.

Sources, all outside the program:

- round metrics come from the traced operations of the workload that runs
  frontier rounds (``crawl_bfs``, ``recrawl_cuckoo``); on ``classify_bulk``,
  which bypasses the frontier, from one traced ``crawl_bfs`` operation on
  the same seed;
- flagship and sink metrics come from ``classify_bulk`` operations; the
  crawl workloads run one traced ``classify_bulk`` operation for them;
- isolated metrics time one call into a layer's public function on the
  run's own inputs;
- engine metrics come from the workload's own traced operations: shuffle
  and spill bytes of the Spark stages that completed inside their timed
  part, and the JVM's garbage-collection time and the CPU time of the
  driver, the JVM and its Python workers across them.

Compare a per-layer metric only within one workload.
"""

from __future__ import annotations

import os
import statistics
import time

from pyspark.sql import functions as F

from crawler_spark.functions.detector import detect_udf
from crawler_spark.functions.url import canonicalize_udf
from crawler_spark.operators.bloom import (
    bucket_of,
    build_blooms,
    probe_blooms_broadcast,
    update_blooms,
)
from crawler_spark.operators.cuckoo import (
    build_cuckoo,
    delete_cuckoo,
    probe_cuckoo_broadcast,
    update_cuckoo,
)
from crawler_spark.operators.dedup import filter_unseen_pruned
from crawler_spark.operators.politeness import admit_per_host
from crawler_spark.operators.robots import gate_tag
from crawler_spark.sources.tables import SnapshotStore

from perfbench.tracing import stages_in

E2E_ROUNDS = "op_p50_s, throughput_per_s"
CRAWLS = ("crawl_bfs", "recrawl_cuckoo")

# name: (unit, better, layer, end-to-end metric it should move, workloads)
LAYER_METRICS: dict[str, tuple[str, str, str, str, tuple[str, ...]]] = {
    "frontier.round_s": ("s", "lower", "frontier", E2E_ROUNDS, CRAWLS),
    "frontier.prune_probe_s": ("s", "lower", "frontier", E2E_ROUNDS, CRAWLS),
    "frontier.w_frontier_s": ("s", "lower", "frontier", E2E_ROUNDS, CRAWLS),
    "frontier.w_parallel_s": ("s", "lower", "frontier", E2E_ROUNDS, CRAWLS),
    "frontier.stages_per_round": ("count", "lower", "frontier", E2E_ROUNDS, CRAWLS),
    "frontier.task_s_per_round": ("s", "lower", "frontier", E2E_ROUNDS, CRAWLS),
    "frontier.serial_s_per_round": ("s", "lower", "frontier", E2E_ROUNDS, CRAWLS),
    "frontier.candidates": ("count", "higher", "frontier", "none: a change is semantic", CRAWLS),
    "frontier.unseen": ("count", "higher", "frontier", "none: a change is semantic", CRAWLS),
    "frontier.admitted": ("count", "higher", "frontier", "none: a change is semantic", CRAWLS),
    "frontier.deferred": ("count", "lower", "frontier", "none: a change is semantic", CRAWLS),
    "frontier.blocked": ("count", "lower", "frontier", "none: a change is semantic", CRAWLS),
    "frontier.fetched": ("count", "higher", "frontier", "none: a change is semantic", CRAWLS),
    "frontier.missing": ("count", "lower", "frontier", "none: a change is semantic", CRAWLS),
    "frontier.results": ("count", "higher", "frontier", "none: a change is semantic", CRAWLS),
    "frontier.new_links": ("count", "higher", "frontier", "none: a change is semantic", CRAWLS),
    "seen.unseen_ratio": ("ratio", "higher", "operators.dedup", "throughput_per_s", ("crawl_bfs",)),
    "seen.filter_bytes": ("bytes", "lower", "operators.bloom", "throughput_per_s", ("crawl_bfs",)),
    "seen.fpr": ("ratio", "lower", "operators.bloom", "throughput_per_s", ("crawl_bfs",)),
    "seen.probe_s": ("s", "lower", "operators.dedup", "throughput_per_s", ("crawl_bfs",)),
    "seen.update_s": ("s", "lower", "operators.bloom", "throughput_per_s", ("crawl_bfs",)),
    "cuckoo.update_s": ("s", "lower", "operators.cuckoo", "op_p50_s", ("recrawl_cuckoo",)),
    "cuckoo.delete_s": ("s", "lower", "operators.cuckoo", "op_p50_s", ("recrawl_cuckoo",)),
    "cuckoo.filter_bytes": ("bytes", "lower", "operators.cuckoo", "op_p50_s", ("recrawl_cuckoo",)),
    "cuckoo.fpr": ("ratio", "lower", "operators.cuckoo", "op_p50_s", ("recrawl_cuckoo",)),
    "robots.blocked_ratio": ("ratio", "lower", "operators.robots", "op_p50_s", ("crawl_bfs",)),
    "robots.gate_s": ("s", "lower", "operators.robots", "op_p50_s", ("crawl_bfs",)),
    "politeness.deferred_ratio": ("ratio", "lower", "operators.politeness", "op_p50_s", ("crawl_bfs",)),
    "politeness.max_host_load": ("count", "lower", "operators.politeness", "op_p50_s", ("crawl_bfs",)),
    "politeness.salted_rounds": ("count", "lower", "operators.politeness", "op_p50_s", ("crawl_bfs",)),
    "politeness.admit_s": ("s", "lower", "operators.politeness", "op_p50_s", ("crawl_bfs",)),
    "politeness.task_skew": ("ratio", "lower", "operators.politeness", "op_p50_s", ("crawl_bfs",)),
    "url.canonicalize_per_s": ("1/s", "higher", "functions.url", "throughput_per_s", ("crawl_bfs", "classify_bulk")),
    "detector.pages_per_s": ("1/s", "higher", "functions.detector", "throughput_per_s", ("classify_bulk",)),
    "flagship.sniff_pass_ratio": ("ratio", "higher", "plans.flagship", "throughput_per_s", ("classify_bulk",)),
    "flagship.gate_pass_ratio": ("ratio", "higher", "plans.flagship", "throughput_per_s", ("classify_bulk",)),
    "flagship.shuffle_bytes": ("bytes", "lower", "plans.flagship", "throughput_per_s", ("classify_bulk",)),
    "sinks.write_s": ("s", "lower", "sources.sinks", "throughput_per_s", ("classify_bulk",)),
    "sinks.bytes": ("bytes", "lower", "sources.sinks", "throughput_per_s", ("classify_bulk",)),
    "tables.write_s.frontier": ("s", "lower", "sources.tables", "op_p50_s", CRAWLS),
    "tables.write_s.url_seen": ("s", "lower", "sources.tables", "op_p50_s", CRAWLS),
    "tables.write_s.filter": ("s", "lower", "sources.tables", "op_p50_s", CRAWLS),
    "tables.write_s.results": ("s", "lower", "sources.tables", "op_p50_s", CRAWLS),
    "tables.write_s.failures": ("s", "lower", "sources.tables", "op_p50_s", CRAWLS),
    "tables.commit_state_s": ("s", "lower", "sources.tables", "op_p50_s", CRAWLS),
    "tables.bytes_per_round": ("bytes", "lower", "sources.tables", "op_p50_s", CRAWLS),
    "tables.bytes_per_admitted_url": ("bytes", "lower", "sources.tables", "op_p50_s", CRAWLS),
    "spark.shuffle_write_bytes": ("bytes", "lower", "session", "throughput_per_s", ("crawl_bfs", "classify_bulk", "recrawl_cuckoo")),
    "spark.spill_bytes": ("bytes", "lower", "session", "throughput_per_s", ("crawl_bfs", "classify_bulk", "recrawl_cuckoo")),
    "spark.gc_s": ("s", "lower", "session", "throughput_per_s", ("crawl_bfs", "classify_bulk", "recrawl_cuckoo")),
    "spark.cpu_s": ("s", "lower", "session", "throughput_per_s", ("crawl_bfs", "classify_bulk", "recrawl_cuckoo")),
    "trace.overhead_share": ("ratio", "lower", "perfbench", "none: tracing cost", ("crawl_bfs", "classify_bulk", "recrawl_cuckoo")),
}

COUNTS = ("candidates", "unseen", "admitted", "deferred", "blocked", "fetched",
          "missing", "results", "new_links")
FILTER_TABLES = ("blooms", "cuckoo")
ABSENT_KEYS = 200_000


def _med(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _dur(spans) -> float:
    return sum(s["end"] - s["start"] for s in spans)


def round_layers(ops, tracer, stages, rest, cores: int) -> dict:
    """Frontier, URL-seen, robots, politeness and table metrics from the
    rounds of traced crawl operations."""
    per = []
    for op in ops:
        for start, end, m in op.rounds:
            st = stages_in(stages, start, end)
            task_s = sum(s["run_s"] for s in st)
            tasks = [t for s in st for t in rest.task_run_s(s)]
            mid = _med(tasks)
            writes = [
                w for w in tracer.named("tables.write")
                if start <= w["start"] and w["end"] <= end
            ]
            by_table = {}
            for w in writes:
                t = "filter" if w["table"] in FILTER_TABLES else w["table"]
                by_table[t] = by_table.get(t, 0.0) + w["end"] - w["start"]
            per.append({
                "wall": end - start, "m": m, "stages": len(st), "task_s": task_s,
                "skew": max(tasks) / mid if mid > 0 else 1.0,
                "tables": by_table,
                "bytes": sum(w["bytes"] for w in writes),
                "commit": _dur(
                    s for s in tracer.named("tables.commit_state")
                    if start <= s["start"] and s["end"] <= end
                ),
            })
    out = {
        "frontier.round_s": _med([p["wall"] for p in per]),
        "frontier.stages_per_round": _med([p["stages"] for p in per]),
        "frontier.task_s_per_round": _med([p["task_s"] for p in per]),
        "frontier.serial_s_per_round": _med([p["wall"] - p["task_s"] / cores for p in per]),
        "politeness.task_skew": _med([p["skew"] for p in per]),
        "tables.commit_state_s": _med([p["commit"] for p in per]),
        "tables.bytes_per_round": _med([p["bytes"] for p in per]),
    }
    for sec in ("prune_probe", "w_frontier", "w_parallel"):
        out[f"frontier.{sec}_s"] = _med([(p["m"].trace or {}).get(sec, 0.0) for p in per])
    for t in ("frontier", "url_seen", "filter", "results", "failures"):
        out[f"tables.write_s.{t}"] = _med([p["tables"].get(t, 0.0) for p in per])
    # counts of the first traced operation: they repeat exactly per seed
    first = [r[2] for r in ops[0].rounds]
    tot = {c: sum(getattr(m, c) for m in first) for c in COUNTS}
    for c in COUNTS:
        out[f"frontier.{c}"] = tot[c]
    admitted_all = sum(p["m"].admitted for p in per)
    out["seen.unseen_ratio"] = tot["unseen"] / max(1, tot["candidates"])
    out["robots.blocked_ratio"] = tot["blocked"] / max(1, tot["unseen"])
    out["politeness.deferred_ratio"] = tot["deferred"] / max(1, tot["unseen"] - tot["blocked"])
    out["politeness.max_host_load"] = max((m.max_host_load for m in first), default=0)
    out["politeness.salted_rounds"] = sum(1 for m in first if m.salted)
    out["tables.bytes_per_admitted_url"] = sum(p["bytes"] for p in per) / max(1, admitted_all)
    return out


def classify_layers(ops, tracer, stages, sniff: tuple[int, int]) -> dict:
    shuffle, sink_s, sink_b, results = [], [], [], []
    for op in ops:
        root = {"start": op.start, "end": op.end}
        cls = tracer.within("flagship.classify_bulk", root)
        shuffle.append(sum(
            st["shuffle_write_bytes"] for c in cls for st in stages_in(stages, c["start"], c["end"])
        ))
        sink_s.append(_dur(tracer.within("sinks.write_results_json", root))
                      + _dur(tracer.within("sinks.write_results_csv", root)))
        sink_b.append(op.parts["sinks_bytes"])
        results.append(op.parts["results"])
    response, html = sniff
    return {
        "flagship.sniff_pass_ratio": html / max(1, response),
        "flagship.gate_pass_ratio": _med(results) / max(1, html),
        "flagship.shuffle_bytes": _med(shuffle),
        "sinks.write_s": _med(sink_s),
        "sinks.bytes": _med(sink_b),
    }


def engine_layers(ops, stages) -> dict:
    per = []
    for op in ops:
        st = [s for a, b in op.windows for s in stages_in(stages, a, b)]
        per.append((
            sum(s["shuffle_write_bytes"] for s in st),
            sum(s["spill_bytes"] for s in st),
        ))
    return {
        "spark.shuffle_write_bytes": _med([p[0] for p in per]),
        "spark.spill_bytes": _med([p[1] for p in per]),
        "spark.gc_s": _med([op.gc_s for op in ops]),
        "spark.cpu_s": _med([op.cpu_s for op in ops]),
    }


# ----------------------------------------------------------- isolated --


def _timed(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def isolated_layers(spark, crawl_inp, text_pages, scratch: str, cfg, budget: int) -> dict:
    """One call into each layer's public function on the run's inputs:
    link targets (1 in 8, by hash) as URLs and candidates, the workload's
    pages as text, half of the candidates as the seen set and the other
    half as the keys folded in by the filter updates. False-positive rates
    come from ``ABSENT_KEYS`` keys that no URL canonicalizes to."""
    out = {}
    urls = (
        crawl_inp.links.select(F.col("dst_url").alias("url")).distinct()
        .where(F.pmod(F.xxhash64("url"), F.lit(8)) == 0).persist()
    )
    n_urls = urls.count()
    out["url.canonicalize_per_s"] = n_urls / _timed(urls.select(canonicalize_udf("url").alias("c")))
    n_pages = text_pages.count()
    out["detector.pages_per_s"] = n_pages / _timed(text_pages.select(detect_udf(F.col("text")).alias("d")))

    cands = (
        urls.withColumn("c", canonicalize_udf("url"))
        .select(
            "url", F.col("c.surt").alias("surt"), F.col("c.host").alias("host"),
            F.col("c.path").alias("path"), F.lit(1).alias("depth"),
            (-F.pmod(F.xxhash64("url"), F.lit(1000))).cast("double").alias("priority"),
            F.lit(0).alias("failure_count"),
        )
        .where(F.col("surt").isNotNull())
        .persist()
    )
    cands.count()
    out["robots.gate_s"] = _timed(gate_tag(cands, crawl_inp.robots))
    out["politeness.admit_s"] = _timed(admit_per_host(cands, budget=budget, cfg=cfg).admitted)

    half = F.pmod(F.xxhash64("surt", F.lit(3)), F.lit(2))
    seen = cands.where(half == 0).withColumn("bucket", bucket_of("surt", cfg)).persist()
    absent = cands.where(half == 1).select("surt").persist()
    absent.count()
    never = spark.range(ABSENT_KEYS).select(
        F.concat(F.lit("absent)/"), F.col("id").cast("string")).alias("surt")
    )
    store = SnapshotStore(os.path.join(scratch, "isolated"))

    blooms = build_blooms(seen, cfg=cfg, headroom=4).persist()
    bits = blooms.agg(F.sum("m")).first()[0] or 0
    out["seen.filter_bytes"] = bits // 8
    out["seen.fpr"] = probe_blooms_broadcast(never, blooms, "surt", cfg).where(
        F.col("_maybe_seen")).count() / ABSENT_KEYS
    t0 = time.perf_counter()
    ur = filter_unseen_pruned(cands, seen, blooms, cfg=cfg, total_bits=bits)
    ur.unseen.write.format("noop").mode("overwrite").save()
    out["seen.probe_s"] = time.perf_counter() - t0
    ur.probed.unpersist()
    t0 = time.perf_counter()
    store.write("blooms", update_blooms(blooms, absent, cfg=cfg))
    out["seen.update_s"] = time.perf_counter() - t0

    ck = build_cuckoo(seen, cfg=cfg, headroom=4).persist()
    out["cuckoo.filter_bytes"] = 4 * (
        ck.agg(F.sum(F.coalesce(F.size("slots"), F.lit(0)))).first()[0] or 0
    )
    out["cuckoo.fpr"] = probe_cuckoo_broadcast(never, ck, "surt", cfg).where(
        F.col("_maybe_seen")).count() / ABSENT_KEYS
    t0 = time.perf_counter()
    store.write("cuckoo", update_cuckoo(ck, absent, cfg=cfg))
    out["cuckoo.update_s"] = time.perf_counter() - t0
    doomed = seen.where(F.pmod(F.xxhash64("surt", F.lit(5)), F.lit(10)) == 0).select("surt")
    t0 = time.perf_counter()
    store.write("cuckoo_deleted", delete_cuckoo(ck, doomed, cfg=cfg))
    out["cuckoo.delete_s"] = time.perf_counter() - t0

    for df in (urls, cands, seen, absent, blooms, ck):
        df.unpersist()
    return out
