"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --self-test

Run from the repository root. One closed-loop driver issues one op at a
time against a Spark ``local[4]`` session it owns, checks every op's
output against the workload's independent oracle, and prints a report
line followed, as the last line of stdout, by one JSON object with the
keys ``correct``, ``attempted``, ``failed`` and ``metrics``.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs traced
ops and reports the per-layer metrics (perfbench/trace.py). Workloads and metrics are described in
perfbench/README.md and BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
SHUFFLE_PARTITIONS = 8
DRIVER_MEM = "3g"

WORKLOADS = {
    "crawl_batch": ("perfbench.crawl", "CrawlBatch"),
    "crawl_stream": ("perfbench.crawl", "CrawlStream"),
    "media_decode": ("perfbench.media", "MediaDecode"),
}

END_TO_END_UNITS = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "op_s_p50": "s",
    "items_per_s": "items/s",
}


def _pin_environment(work: str) -> None:
    """Everything the JVM and its Python workers inherit is set before
    the JVM starts: the repo root on PYTHONPATH (workers import the
    engine by name), scratch space inside the work directory, and the
    engine's own driver-heap variable sized for a 15 GB host."""
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["WFC_DRIVER_MEM"] = DRIVER_MEM
    os.environ.pop("WFC_DEBUG_TIMING", None)


def start_spark(work: str, cores: int = CORES):
    from who_focus_crawler_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # the heap's address range, so peak memory can count the
            # heap by its live data (perfbench/procstat.py)
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} "
                f"-Xlog:gc+heap+coops=debug:file={heap_log(work)}"
            ),
            "spark.ui.retainedJobs": "20000",
            "spark.ui.retainedStages": "20000",
        },
    )


def heap_log(work: str) -> str:
    return os.path.join(work, "jvm-heap.log")


def heap_live_mb(spark) -> float:
    """The driver JVM heap's live data: heap used after a full collection."""
    jvm = spark._jvm
    jvm.java.lang.System.gc()
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return mx.getHeapMemoryUsage().getUsed() / 2**20


def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait until the JVM and
    every Python worker it started have exited."""
    from pyspark import SparkContext

    from perfbench.procstat import descendants, wait_exited

    spark.stop()
    started = descendants()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on end of input
        proc.wait(timeout=60)
    wait_exited(started)


def git_revision() -> str | None:
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return None


def idleness() -> dict | None:
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    try:
        from idleness import sys_snapshot
    except ImportError:
        return None
    finally:
        sys.path.pop(0)
    return sys_snapshot()


def _load_workload(name: str):
    import importlib

    mod, cls = WORKLOADS[name]
    return getattr(importlib.import_module(mod), cls)


class Run:
    """One op loop: times each op, checks it, keeps the samples."""

    def __init__(self, wl):
        self.wl = wl
        self.walls: list[float] = []
        self.rates: list[float] = []
        self.items = 0.0
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def one(self, after=None) -> float | None:
        """Run, time and check one op; None when it raised."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out, items = self.wl.op()
        except Exception as e:  # noqa: BLE001 - a raising op is a failed op
            self.failed += 1
            self.failures.append(f"op {self.attempted}: {type(e).__name__}: {e}")
            return None
        wall = time.perf_counter() - t0
        if after is not None:
            after()
        err = self.wl.check(out)
        if err is None:
            self.walls.append(wall)
            self.rates.append(items / wall)
            self.items += items
        else:
            self.failed += 1
            self.failures.append(f"op {self.attempted}: {err}")
        return wall

    def loop(self, seconds: float, after=None) -> None:
        """The workload's fixed number of ops when it has one (each crawl
        op does different work, so parent and change must time the same
        ones); otherwise ops that repeat the same work until the next
        one, taking as long as the last, would end after ``seconds``
        (at least one op)."""
        if self.wl.timed_ops is not None:
            for _ in range(self.wl.timed_ops):
                if self.one(after) is None:
                    break  # engine state after a raising op is unknown
            return
        t_end = time.perf_counter() + seconds
        while True:
            wall = self.one(after)
            if wall is None:
                break
            if time.perf_counter() + wall > t_end:
                break


def run_benchmark(name: str, seed: int, seconds: float, trace: bool, work: str) -> dict:
    from perfbench.procstat import PeakMemorySampler

    rss = PeakMemorySampler(heap_log(work)).start()
    t_setup = time.perf_counter()
    spark = start_spark(work)
    session_s = time.perf_counter() - t_setup
    try:
        wl = _load_workload(name)(spark, seed, work)
        wl.build()
        setup_s = time.perf_counter() - t_setup
        wl.prepare_oracle()
        idle = idleness()
        report = {"workload": name, "seed": seed, "git_revision": git_revision(),
                  "cores": CORES, "idleness": idle, "session_start_s": session_s}
        run = Run(wl)
        if not trace:
            run.loop(seconds)
            metrics = {
                "setup_s": setup_s,
                "peak_rss_mb": None,
                "op_s_p50": statistics.median(run.walls) if run.walls else None,
                "items_per_s": statistics.median(run.rates) if run.rates else None,
            }
            units = END_TO_END_UNITS
        else:
            metrics, units = _traced(spark, wl, run, seconds, session_s, report)
        rss.stop()
        mem_parts = dict(rss.peak_parts_mb)
        if not trace:
            heap_live = heap_live_mb(spark)
            mem_parts["jvm_heap_live"] = round(heap_live, 1)
            metrics["peak_rss_mb"] = rss.peak_mb + heap_live
        report.update(
            samples={"ops": len(run.walls), "rss": rss.samples, "setup": 1},
            peak_mem_parts_mb=mem_parts,
            op_walls_s=[round(w, 4) for w in run.walls],
            items=run.items, item=wl.item, failures=run.failures,
        )
        print("perfbench report " + json.dumps(report, default=str), flush=True)
        correct = run.failed == 0 and all(v is not None for v in metrics.values())
        return {
            "correct": correct,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": {k: {"value": (v if v is not None else 0.0), "unit": units[k]}
                        for k, v in metrics.items()},
        }
    finally:
        rss.stop()
        stop_spark(spark)


def _traced(spark, wl, run: Run, seconds: float, session_s: float, report: dict):
    """Traced ops, then the workload's own extra per-layer readings.

    Where every op repeats the same work, untraced ops for half of
    ``seconds`` come first as the overhead baseline and traced ops fill
    the other half. A crawl workload traces its fixed ops directly, so
    its traced ops are the ones a ``--trace 0`` run times; no op of it
    repeats, so it has no overhead baseline and reports 0 there."""
    from perfbench.trace import QUANTITIES, RATIOS, Tracer, layer_quantity_names

    half = seconds / 2
    if wl.timed_ops is None:
        run.loop(half)
    untraced = statistics.median(run.walls) if run.walls else None
    n_untraced = len(run.walls)

    tracer = Tracer(spark)
    tracer.install()
    traced_walls: list[float] = []
    unattributed: list[float] = []
    t_end = time.perf_counter() + half
    try:
        for op in itertools.count(1):
            j0 = tracer.begin_op(op)
            wall = run.one(after=lambda: tracer.end_op(j0))
            if wall is None:
                break
            traced_walls.append(wall)
            unattributed.append(wall - tracer.top_level_s(op))
            if wl.timed_ops is not None:
                if op >= wl.timed_ops:
                    break
            elif time.perf_counter() + wall > t_end:
                break
    finally:
        tracer.uninstall()
    units = {k: QUANTITIES[k.rsplit(".", 1)[1]][0] for k in layer_quantity_names()}
    units.update({k: "ratio" for k in RATIOS})
    units.update(PER_LAYER_EXTRA_UNITS)
    n = len(traced_walls)
    if n == 0:
        return {k: None for k in units}, units
    m = tracer.layer_metrics(n)
    m["session.self_s"] = session_s
    traced_med = statistics.median(traced_walls)
    m["trace.op_wall_s"] = traced_med
    m["trace.overhead_frac"] = traced_med / untraced - 1 if untraced else 0.0
    m["trace.unattributed_s"] = statistics.median(unattributed)
    self_sum = sum(tracer.self_total_s(op) for op in range(1, n + 1)) / n
    m["trace.attributed_frac"] = self_sum / (sum(traced_walls) / n)
    m.update(wl.trace_extras())
    report.update(absent_layers=tracer.absent, traced_ops=n, untraced_ops=n_untraced,
                  spans=tracer.span_records())
    return {k: m.get(k, 0.0) for k in units}, units


PER_LAYER_EXTRA_UNITS = {
    "checkpoint.snapshot.write_mb": "MB",
    "session.self_s": "s",
    "corpus.jpeg.decode_ms_per_mpix": "ms/Mpx",
    "corpus.png.decode_ms_per_mpix": "ms/Mpx",
    "corpus.gif.decode_ms_per_mpix": "ms/Mpx",
    "trace.op_wall_s": "s",
    "trace.overhead_frac": "ratio",
    "trace.unattributed_s": "s",
    "trace.attributed_frac": "ratio",
}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true",
                    help="plant a wrong answer for each oracle and check it is caught")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "who_focus_crawler_spark")):
        print("perfbench: engine package who_focus_crawler_spark not found "
              f"under {ROOT}", file=sys.stderr)
        return 2
    if not args.self_test and args.workload is None:
        ap.error("--workload is required")
    sys.path.insert(0, ROOT)
    name = "selftest" if args.self_test else f"{args.workload}-{args.seed}"
    work = os.path.join(ROOT, ".bench_work", f"{name}-{os.getpid()}")
    _pin_environment(work)
    try:
        if args.self_test:
            from perfbench.selftest import self_test

            return self_test(work)
        result = run_benchmark(args.workload, args.seed, args.seconds,
                               bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
