"""The three benchmark workloads.

Each is a closed loop with one driver: the next operation starts when the
previous one has finished. A workload builds its seeded inputs, computes
the expected outputs once (untimed), warms up, and then runs timed
operations. Every operation's output is checked untimed; an operation that
raises or fails its check counts as failed.

- ``crawl_bfs``: an operation is the next Bloom-mode BFS round from a crawl
  checkpoint: a fresh ``FrontierCrawler``, ``resume()``, one round.
- ``classify_bulk``: an operation is one ``plans.flagship.classify_bulk``
  pass plus the JSON and CSV result sinks.
- ``recrawl_cuckoo``: an operation is one recrawl cycle on a cuckoo-mode
  crawl checkpoint: retract a slice of url_seen, a fresh
  ``FrontierCrawler`` and ``resume()``, one round.
"""

from __future__ import annotations

import os
import statistics
import time
import traceback
from dataclasses import dataclass, field, replace

from pyspark.sql import functions as F

from crawler_spark.config import EngineConfig
from crawler_spark.frontier import FrontierCrawler
from crawler_spark.operators.cuckoo import probe_cuckoo_broadcast
from crawler_spark.plans.flagship import classify_bulk, content_sniff_html
from crawler_spark.sources.sinks import write_results_csv, write_results_json
from crawler_spark.sources.tables import SnapshotStore

from perfbench import checks, inputs
from perfbench.engine import clean
from perfbench.tracing import TracingStore, dir_bytes, jvm_gc_s, tree_cpu_s


@dataclass(frozen=True)
class CrawlSize:
    pages: int
    words: int
    seeds: int
    budget: int
    rounds: int


# Sizing on a 4-core box: a round costs ~6 s of fixed driver work plus its
# share of candidates. The checkpoint holds one round; the skew threshold
# sits below that round's largest host load, so the measured second round
# salts the 20% host.
CRAWL = CrawlSize(pages=10_000, words=60, seeds=500, budget=50, rounds=1)
CLASSIFY_PAGES, CLASSIFY_WORDS = 20_000, 240
SKEW_THRESHOLD = 32
RETRACT_MODULUS = 10  # retract ~1/10 of url_seen per cycle
CFG = EngineConfig(skew_threshold=SKEW_THRESHOLD)


@dataclass
class Ctx:
    spark: object
    seed: int
    scratch: str
    tracer: object
    jvm_pid: int


@dataclass
class Op:
    k: int
    traced: bool
    start: float = 0.0
    end: float = 0.0
    seconds: float = 0.0  # timed part only
    items: int = 0
    parts: dict = field(default_factory=dict)
    rounds: list = field(default_factory=list)  # (start, end, RoundMetrics)
    windows: list = field(default_factory=list)  # timed (start, end) spans
    gc_s: float = 0.0  # JVM garbage collection during a traced operation
    cpu_s: float = 0.0  # CPU time of the driver, the JVM and its workers
    problems: list = field(default_factory=list)
    error: str | None = None

    @property
    def failed(self) -> bool:
        return self.error is not None or bool(self.problems)


class RoundClock:
    """``on_round`` hook: a round's wall time is measured from outside as
    the gap between consecutive hook calls."""

    def __init__(self, tracer, start: float):
        self.tracer = tracer
        self.last = start
        self.rounds: list = []

    def __call__(self, m) -> None:
        now = time.time()
        self.rounds.append((self.last, now, m))
        self.tracer.add("frontier.round", self.last, now, round=m.round, **(m.trace or {}))
        self.last = now


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _rate(ops) -> float:
    """Median over operations of items per second."""
    return _median([op.items / op.seconds for op in ops])


class Workload:
    name = ""
    has_rounds = False

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.inp = None

    # set-up ------------------------------------------------------------
    def build_inputs(self) -> None:
        """Timed set-up: the seeded inputs, cached."""
        raise NotImplementedError

    def checkpoint(self) -> None:
        """Timed set-up done once: state the operations start from."""

    def prepare(self) -> None:
        """Untimed: expected outputs for the checks."""

    # the first operation runs on a cold JIT and takes 1.4-2x as long
    warm_up_ops = 1

    def warm_up(self) -> list[Op]:
        return [self.run_op(-1 - k, traced=False) for k in range(self.warm_up_ops)]

    # operations --------------------------------------------------------
    def run_op(self, k: int, traced: bool) -> Op:
        op = Op(k=k, traced=traced)
        tracer = self.ctx.tracer
        tracer.enabled = traced
        gc0 = jvm_gc_s(self.ctx.spark) if traced else 0.0
        cpu0 = tree_cpu_s(self.ctx.jvm_pid)
        op.start = time.time()
        try:
            with tracer.span("op", workload=self.name, k=k):
                self._op(op)
        except Exception:
            op.error = traceback.format_exc()
        op.end = time.time()
        op.cpu_s = tree_cpu_s(self.ctx.jvm_pid) - cpu0
        if traced:
            op.gc_s = jvm_gc_s(self.ctx.spark) - gc0
        tracer.enabled = False
        return op

    def _op(self, op: Op) -> None:
        raise NotImplementedError

    def notes(self) -> list[str]:
        return []

    def close(self) -> None:
        if self.inp is not None:
            self.inp.unpersist()

    # results -----------------------------------------------------------
    def e2e(self, ops: list[Op]) -> tuple[float, float, dict]:
        """(throughput_per_s, op_p50_s, named workload metrics)."""
        raise NotImplementedError


# ------------------------------------------------------ frontier crawls --


class CheckpointCrawl(Workload):
    """A crawl checkpoint (``init_from_seeds`` plus ``size.rounds`` rounds,
    made once in set-up) that every operation starts from: an operation
    restarts the crawler from the checkpoint with a fresh
    ``FrontierCrawler`` and ``resume()`` and runs the next round. After the
    untimed checks the store is rolled back to the checkpoint, so every
    operation does the same work."""

    has_rounds = True
    seen_mode = ""

    size = CRAWL

    def __init__(self, ctx: Ctx):
        super().__init__(ctx)
        self.root = os.path.join(ctx.scratch, f"{self.name}-checkpoint")

    def build_inputs(self) -> None:
        s, ctx = self.size, self.ctx
        self.inp = inputs.build_crawl_inputs(ctx.spark, ctx.seed, s.pages, s.words, s.seeds)

    def checkpoint(self) -> None:
        clean(self.root)
        store = SnapshotStore(self.root)
        self._crawler(store).init_from_seeds(self.inp.seeds)
        self.base_rounds = self._crawler(store).run(self.size.rounds, from_round=0)
        self.base_state = store.read_state()

    def notes(self) -> list[str]:
        return [
            f"checkpoint round {m.round}: {m.candidates} candidates, {m.admitted} admitted, "
            f"max host load {m.max_host_load}, salted {m.salted}"
            for m in self.base_rounds
        ]

    def _crawler(self, store) -> FrontierCrawler:
        inp = self.inp
        return FrontierCrawler(
            self.ctx.spark, store, inp.pages, links=inp.links, robots=inp.robots,
            cfg=CFG, budget=self.size.budget, seen_mode=self.seen_mode,
        )

    def _store(self, op: Op) -> SnapshotStore:
        return TracingStore(self.root, self.ctx.tracer) if op.traced else SnapshotStore(self.root)

    def _resume_and_round(self, op: Op, store) -> tuple[float, float, float, list]:
        """(start, resumed, end, round metrics)."""
        tracer = self.ctx.tracer
        t0 = time.time()
        with tracer.span("frontier.resume"):
            crawler = self._crawler(store)
            r = crawler.resume()
        t1 = time.time()
        clock = RoundClock(tracer, t1)
        with tracer.span("frontier.run"):
            ms = crawler.run(1, from_round=r, on_round=clock)
        t2 = time.time()
        op.rounds = clock.rounds
        op.items = sum(m.candidates for m in ms)
        return t0, t1, t2, ms

    def _reset(self, store) -> None:
        store.commit_state(self.base_state)
        store.restore_state()

    def close(self) -> None:
        super().close()
        clean(self.root)


class CrawlBfs(CheckpointCrawl):
    """An operation is the next Bloom-mode BFS round from the checkpoint;
    the second round is past the skew threshold and salts."""

    name = "crawl_bfs"
    seen_mode = "bloom"

    def prepare(self) -> None:
        oi = inputs.collect_crawl(self.inp)
        self.expect = checks.expect_crawl(
            oi, self.size.budget, CFG.max_retry_attempts, self.size.rounds + 1,
            CFG.politeness.round_duration_s,
        )

    def _op(self, op: Op) -> None:
        store = self._store(op)
        try:
            t0, t1, t2, ms = self._resume_and_round(op, store)
            op.seconds = t2 - t0
            op.parts = {"resume_s": t1 - t0, "round_s": t2 - t1}
            op.windows = [(t0, t2)]
            rows = [
                (r.host, r.surt, r["round"])
                for r in store.read(self.ctx.spark, "url_seen")
                .select("host", "surt", "round").collect()
            ]
            admitted = [m.admitted for m in self.base_rounds + ms]
            op.problems = checks.check_crawl(self.expect, admitted, rows)
            op.problems += checks.self_test_crawl(self.expect, admitted, rows)
        finally:
            self._reset(store)

    def e2e(self, ops):
        secs = [op.seconds for op in ops]
        rate = _rate(ops)
        return rate, _median(secs), {
            "frontier_urls_per_s": (rate, "1/s"),
            "round_p50_s": (_median(secs), "s"),
            "resume_p50_s": (_median([op.parts["resume_s"] for op in ops]), "s"),
            "rounds_measured": (len(secs), "count"),
        }


class RecrawlCuckoo(CheckpointCrawl):
    """An operation is one recrawl cycle on a cuckoo-mode checkpoint:
    retract a seed- and cycle-chosen slice of url_seen, construct a fresh
    ``FrontierCrawler`` and ``resume()``, run one round."""

    name = "recrawl_cuckoo"
    seen_mode = "cuckoo"

    def _op(self, op: Op) -> None:
        spark, tracer = self.ctx.spark, self.ctx.tracer
        store = self._store(op)
        try:
            victims = inputs.retract_slice(
                store.read(spark, "url_seen"), self.ctx.seed, op.k, RETRACT_MODULUS
            ).select("url", "surt").persist()
            retracted = {r.surt for r in victims.collect()}
            crawler = self._crawler(store)
            t0 = time.time()
            with tracer.span("frontier.retract"):
                n = crawler.retract(victims.select("url"))
            t1 = time.time()
            victims.unpersist()
            seen_after = [r.surt for r in store.read(spark, "url_seen").select("surt").collect()]
            if n != len(retracted):
                op.problems.append(f"retract removed {n} rows for {len(retracted)} surts")
            op.problems += checks.check_retract(retracted, seen_after)
            op.problems += checks.self_test_retract(retracted, seen_after)
            t2, t3, t4, _ = self._resume_and_round(op, store)
            op.seconds = (t1 - t0) + (t4 - t2)
            op.parts = {"retract_s": t1 - t0, "resume_s": t3 - t2, "round_s": t4 - t3}
            op.windows = [(t0, t1), (t2, t4)]
            # untimed: url_seen is a set and the filter has no false negatives
            state = store.read_state()
            cfg = replace(CFG, num_host_buckets=int(state["num_buckets"]))
            seen = store.read(spark, "url_seen").select("surt")
            probed = probe_cuckoo_broadcast(seen, store.read(spark, "cuckoo"), "surt", cfg)
            hits = probed.select("surt", "_maybe_seen").collect()
            op.problems += checks.check_seen_filter(
                [h.surt for h in hits], [bool(h._maybe_seen) for h in hits]
            )
        finally:
            self._reset(store)

    def e2e(self, ops):
        cycles = [op.seconds for op in ops]
        return (
            _rate(ops),
            _median(cycles),
            {
                "recrawl_cycle_p50_s": (_median(cycles), "s"),
                "retract_p50_s": (_median([op.parts["retract_s"] for op in ops]), "s"),
                "resume_p50_s": (_median([op.parts["resume_s"] for op in ops]), "s"),
                "cycle_round_p50_s": (_median([op.parts["round_s"] for op in ops]), "s"),
                "cycles_measured": (len(cycles), "count"),
            },
        )


# --------------------------------------------------------- classify_bulk --


class ClassifyBulk(Workload):
    name = "classify_bulk"
    n_pages = CLASSIFY_PAGES

    def build_inputs(self) -> None:
        self.inp = inputs.build_crawl_inputs(
            self.ctx.spark, self.ctx.seed, self.n_pages, CLASSIFY_WORDS, None
        )

    def prepare(self) -> None:
        pages = self.inp.pages.select(
            "url", "warc_source", "warc_offset", "rec_type", "text"
        ).toPandas()
        self.expect = checks.expect_classify(list(pages.itertuples(index=False, name=None)))

    def _op(self, op: Op) -> None:
        ctx, tracer = self.ctx, self.ctx.tracer
        out = os.path.join(ctx.scratch, f"sinks-{op.k}")
        t0 = time.time()
        with tracer.span("flagship.classify_bulk"):
            res = classify_bulk(self.inp.pages).persist()
            n = res.count()
        t1 = time.time()
        with tracer.span("sinks.write_results_json"):
            write_results_json(res, os.path.join(out, "json"))
        with tracer.span("sinks.write_results_csv"):
            write_results_csv(res, os.path.join(out, "csv"))
        t2 = time.time()
        op.seconds = t2 - t0
        op.parts = {"classify_s": t1 - t0, "sinks_s": t2 - t1, "results": n}
        op.windows = [(t0, t2)]
        op.items = self.n_pages
        rows = [r.asDict() for r in res.collect()]
        res.unpersist()
        op.parts["sinks_bytes"] = dir_bytes(out)
        op.problems = checks.check_classify(self.expect, rows)
        op.problems += checks.check_sink_rows(
            n, _lines(os.path.join(out, "json")), _lines(os.path.join(out, "csv"), header=True)
        )
        op.problems += checks.self_test_classify(self.expect, rows)
        clean(out)

    def e2e(self, ops):
        secs = [op.seconds for op in ops]
        return (
            _rate(ops),
            _median(secs),
            {
                "pages_classified_per_s": (_rate(ops), "1/s"),
                "classify_p50_s": (_median([op.parts["classify_s"] for op in ops]), "s"),
                "sinks_p50_s": (_median([op.parts["sinks_s"] for op in ops]), "s"),
                "passes_measured": (len(secs), "count"),
            },
        )

    def sniff_counts(self) -> tuple[int, int]:
        """(response records, records passing the content sniff)."""
        resp = self.inp.pages.where(F.col("rec_type") == "response")
        row = resp.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(content_sniff_html(F.col("text")), 1).otherwise(0)).alias("html"),
        ).first()
        return int(row["n"]), int(row["html"] or 0)


def _lines(path: str, header: bool = False) -> int:
    """Data lines in a Spark text-format output directory."""
    n = 0
    for f in sorted(os.listdir(path)):
        if f.startswith("part-"):
            with open(os.path.join(path, f), "rb") as fh:
                k = sum(1 for _ in fh)
            n += max(0, k - 1) if header else k
    return n


WORKLOADS = {w.name: w for w in (CrawlBfs, ClassifyBulk, RecrawlCuckoo)}
