#!/usr/bin/env python3
"""Benchmark of crawler_spark: closed-loop, single-driver batch workloads.

Run from the repository root:

    python3 perfbench/run.py --workload crawl_bfs --seed 1 --seconds 20 --trace 0

``--workload`` is ``crawl_bfs``, ``classify_bulk``, ``recrawl_cuckoo``, a
comma-separated list of them, or ``all``. The run sets up (session, seeded
inputs, warm-up), runs timed operations for ``--seconds`` (always at least
``MIN_OPS``), checks every output, prints the named metrics
with their units and, as the last line, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics with the Spark UI off; ``--trace 1`` turns the UI
on, records spans around every layer call and reports the per-layer
metrics, writing spans and metrics under ``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOAD_NAMES = ("crawl_bfs", "classify_bulk", "recrawl_cuckoo")
# A median of three still holds when one operation hits a burst of host
# contention; a crawl round can take over half of a 20 s run.
MIN_OPS = 3
# Per-layer metrics of layers a workload bypasses come from one traced
# operation of the workload that runs them.
BORROW = {"crawl_bfs": "classify_bulk", "recrawl_cuckoo": "classify_bulk",
          "classify_bulk": "crawl_bfs"}


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    names = WORKLOAD_NAMES if args.workload == "all" else tuple(args.workload.split(","))
    bad = [n for n in names if n not in WORKLOAD_NAMES]
    if bad:
        p.error(f"unknown workload(s) {bad}; choose from {WORKLOAD_NAMES} or 'all'")
    args.names = names
    return args


def measure(wl, seconds: float, traced: bool, rss_pid: int | None):
    """Closed loop for ``seconds``; traced runs alternate untraced and
    traced operations so tracing overhead is measured in the same run."""
    from perfbench.tracing import RssSampler, StealMeter

    steal = StealMeter()
    ops = []
    with RssSampler(rss_pid) as rss:
        deadline = time.time() + seconds
        while True:
            ops.append(wl.run_op(len(ops), traced and len(ops) % 2 == 1))
            if time.time() >= deadline and len(ops) >= MIN_OPS:
                break
    return ops, rss.peak / 2**20, steal.pct()


def run_workload(name, args, spark, scratch, cores, session_s, info) -> dict:
    from perfbench import layers
    from perfbench.engine import jvm_pid
    from perfbench.tracing import SparkRest, Tracer
    from perfbench.workloads import CFG, WORKLOADS, Ctx

    tracer = Tracer(f"{name}-seed{args.seed}-{os.getpid()}", enabled=False)
    ctx = Ctx(spark, args.seed, scratch, tracer, jvm_pid())
    wl = WORKLOADS[name](ctx)
    t0 = time.perf_counter()
    wl.build_inputs()
    build_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    wl.checkpoint()
    checkpoint_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    wl.prepare()
    prepare_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    warm = wl.warm_up()
    warm_s = time.perf_counter() - t0
    setup_s = session_s + build_s + checkpoint_s + warm_s

    ops, peak_mb, steal_pct = measure(wl, args.seconds, bool(args.trace), jvm_pid())
    plain = [op for op in ops if not op.traced and not op.failed] or [
        op for op in ops if not op.traced
    ]
    throughput, op_p50, named = wl.e2e(plain)
    failed = [op for op in warm + ops if op.failed]
    out = {
        "attempted": len(warm) + len(ops), "failed": len(failed),
        "e2e": {
            "setup_s": (setup_s, "s"),
            "throughput_per_s": (throughput, "1/s"),
            "op_p50_s": (op_p50, "s"),
            "peak_rss_mb": (peak_mb, "MB"),
        },
        "named": named,
        "notes": [
            f"setup: session {session_s:.2f} s, inputs {build_s:.2f} s, "
            f"checkpoint {checkpoint_s:.2f} s, warm-up {warm_s:.2f} s; "
            f"expected outputs {prepare_s:.2f} s (untimed)",
            f"ops {len(ops)}: {[round(op.seconds, 2) for op in ops]} s, "
            f"cpu {[round(op.cpu_s, 2) for op in ops]} s, steal {steal_pct:.2f}%",
            *wl.notes(),
        ],
        "problems": [p for op in failed for p in (op.problems or [op.error])],
    }
    if args.trace:
        traced = [op for op in ops if op.traced and not op.failed]
        other = WORKLOADS[BORROW[name]](ctx)
        other.build_inputs()
        other.checkpoint()
        other.prepare()
        oop = other.run_op(1000, True)
        out["attempted"] += 1
        if oop.failed:
            out["failed"] += 1
            out["problems"] += oop.problems or [oop.error]
        rest = SparkRest(spark)
        stages = rest.stages()
        per = {}
        if traced and not oop.failed:
            crawl, crawl_ops = (wl, traced) if wl.has_rounds else (other, [oop])
            cls, cls_ops = (wl, traced) if name == "classify_bulk" else (other, [oop])
            per.update(layers.round_layers(crawl_ops, tracer, stages, rest, cores))
            per.update(layers.classify_layers(cls_ops, tracer, stages, cls.sniff_counts()))
            per.update(layers.engine_layers(traced, stages))
            per.update(layers.isolated_layers(
                spark, crawl.inp, wl.inp.pages, scratch, CFG, crawl.size.budget
            ))
            t_plain = statistics.median(op.seconds for op in plain)
            per["trace.overhead_share"] = statistics.median(op.seconds for op in traced) / t_plain - 1
        other.close()
        missing = [k for k in layers.LAYER_METRICS if k not in per]
        if missing:
            out["problems"].append(f"per-layer metrics not measured: {missing}")
        out["layers"] = per
        tdir = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(tdir, exist_ok=True)
        tracer.dump(os.path.join(tdir, f"{tracer.run_id}.spans.jsonl"))
        with open(os.path.join(tdir, f"{tracer.run_id}.layers.json"), "w") as f:
            json.dump({"seed": args.seed, "workload": name, **info, "layers": per}, f, indent=1)
    wl.close()
    return out


def report(name, args, res, info) -> dict:
    """Print the human-readable block; return this workload's metrics."""
    print(f"== {name} seed={args.seed} seconds={args.seconds:g} trace={args.trace} "
          + " ".join(f"{k}={v}" for k, v in info.items()))
    for note in res["notes"]:
        print(f"   {note}")
    rows = {**res["e2e"], **res["named"]}
    share = res["failed"] / max(1, res["attempted"])
    rows["failed_op_share"] = (share, f"share ({res['failed']}/{res['attempted']})")
    for k, (v, unit) in rows.items():
        print(f"   {k:<24} {v:>14.4f} {unit}")
    for p in res["problems"]:
        print(f"   FAILED: {p.strip().splitlines()[-1]}")
        print(p, file=sys.stderr)
    if args.trace:
        for k, v in sorted(res.get("layers", {}).items()):
            print(f"   {k:<32} {v:>16.6g}")
        from perfbench.layers import LAYER_METRICS

        return {k: {"value": float(res["layers"].get(k, 0.0)), "unit": LAYER_METRICS[k][0]}
                for k in LAYER_METRICS}
    return {k: {"value": float(v), "unit": u} for k, (v, u) in res["e2e"].items()}


def main(argv=None) -> int:
    args = parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "crawler_spark")) or not os.path.isfile(
        os.path.join(ROOT, "tests", "oracle_crawl.py")
    ):
        print(f"perfbench: no crawler_spark checkout at {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import engine

    scratch = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    info = engine.machine()
    cores = min(info["nproc"], engine.MAX_CORES)
    info.update(cores=cores, driver_mem=engine.pin_environment(ROOT, scratch, info["ram_mb"]))
    t0 = time.perf_counter()
    spark = engine.start_session(scratch, cores, ui=bool(args.trace))
    session_s = time.perf_counter() - t0
    results = {}
    try:
        for name in args.names:
            results[name] = run_workload(name, args, spark, scratch, cores, session_s, info)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        engine.stop_session(spark)
        engine.clean(scratch)
    metrics, attempted, failed = {}, 0, 0
    for name, res in results.items():
        m = report(name, args, res, info)
        attempted += res["attempted"]
        failed += res["failed"]
        metrics.update(m if len(results) == 1 else {f"{name}/{k}": v for k, v in m.items()})
    correct = failed == 0 and not any(r["problems"] for r in results.values())
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
