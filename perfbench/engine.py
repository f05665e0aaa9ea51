"""Environment pinning and the Spark session's lifetime.

The benchmark pins everything from its own side: the local core count,
the driver heap (sized to physical RAM), an explicit scratch directory
inside the checkout for Spark, the JVM and the Python workers, and
``crawler_spark`` on the workers' import path so the run works from any
checkout location.
"""

from __future__ import annotations

import os
import shutil
import signal
import time

from perfbench.tracing import process_tree

MAX_CORES = 2  # the rest of a 4-core box runs the driver JVM, its GC and Python
# One C1 and one C2 compiler thread, two parallel and one concurrent GC
# thread (the defaults on 4 cores are 3, 4 and 1): with two task slots the
# JVM then keeps its demand below the core count while the JIT is still
# busy, so a little hypervisor steal does not queue the timed work.
JVM_THREADS = "-XX:CICompilerCount=2 -XX:ParallelGCThreads=2 -XX:ConcGCThreads=1"


def machine() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return {"nproc": len(os.sched_getaffinity(0)), "ram_mb": mem_kb // 1024}


def driver_mem_mb(ram_mb: int) -> int:
    """A tenth of physical RAM, between 1 and 1.5 GB: the benchmark's
    cached inputs and round caches stay well under 1 GB."""
    return max(1024, min(1536, ram_mb // 10))


def pin_environment(root: str, scratch: str, ram_mb: int) -> str:
    """Set the environment the JVM and its Python workers inherit; returns
    the driver heap size."""
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = root + (os.pathsep + path if path else "")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{driver_mem_mb(ram_mb)}m"
    os.environ["TMPDIR"] = tmp
    # the short-lived launcher JVM that spark-submit runs first
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.pop("SPARK_GRAFT_CPUS", None)
    return os.environ["SPARK_GRAFT_DRIVER_MEM"]


def start_session(scratch: str, cores: int, ui: bool):
    from crawler_spark.session import get_spark

    tmp = os.path.join(scratch, "tmp")
    conf = {
        "spark.local.dir": os.path.join(scratch, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        # the heap starts at its maximum: no resizing decisions that make
        # memory and pause times differ from run to run
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
            f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} {JVM_THREADS}"
        ),
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "true" if ui else "false",
    }
    if ui:
        # a free port, and enough retained stages for a whole traced run
        conf.update({"spark.ui.port": "0", "spark.ui.retainedStages": "20000",
                     "spark.ui.retainedJobs": "20000"})
    return get_spark(
        app_name="perfbench", cores=cores, shuffle_partitions=cores, extra_conf=conf
    )


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    return proc.pid if proc is not None else None


def stop_session(spark, timeout_s: float = 60.0) -> None:
    """Stop Spark, end the JVM and wait until it and every Python worker
    it started have exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    tree = process_tree(proc.pid) if proc is not None else []
    spark.stop()
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is None:
        return
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=timeout_s)
    except Exception:
        proc.kill()
        proc.wait()
    deadline = time.time() + timeout_s
    for pid in tree:
        while _alive(pid):
            if time.time() > deadline:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    break
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def clean(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
