"""Traced run: spans around the calls into each engine layer.

The tracer replaces each layer's public function *where the driver loop
looks it up* (a module attribute, or a class attribute for
``SnapshotCatalog.commit``) with a wrapper that

1. opens a span (layer, start, parent, op id),
2. calls the original function,
3. materializes a returned DataFrame (an eager ``localCheckpoint``)
   under a Spark job group named after the layer, so the lazy work runs
   inside the span, and
4. closes the span with its Spark job-id range and the Python-worker
   CPU time spent while it was open.

After each op the tracer reads the job -> stage mapping and per-stage
metrics from the Spark status store once, and charges each stage to the
innermost span whose job range holds the stage's first job. A layer's
self time is its span time minus the time of its child spans. Spans stay
in memory; ``layer_metrics`` summarizes them when the run ends.

A wrap point whose module or attribute is missing is reported as absent
instead of failing, so engine refactors that rename or merge functions
show up as missing layers, not as a crashed benchmark.
"""

from __future__ import annotations

import importlib
import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from perfbench.procstat import python_worker_cpu_s

PKG = "who_focus_crawler_spark"

# (layer, module, attribute): where the engine's drivers look each layer up
WRAP_POINTS = [
    ("functions.urls", f"{PKG}.functions.urls", "canonicalize_df"),
    ("functions.urls", f"{PKG}.operators.discover", "canonicalize_df"),
    ("operators.dedup", f"{PKG}.operators.dedup", "dedup_against_seen"),
    ("operators.dedup", f"{PKG}.operators.dedup", "mark_maybe_seen"),
    ("operators.dedup", f"{PKG}.plans.crawl", "dedup_in_batch"),
    ("operators.dedup", f"{PKG}.plans.crawl", "dedup_against_seen"),
    ("operators.dedup", f"{PKG}.plans.crawl", "update_seen_filters"),
    ("operators.dedup", f"{PKG}.streaming.crawl", "dedup_in_batch"),
    ("operators.dedup", f"{PKG}.streaming.crawl", "dedup_against_seen"),
    ("operators.dedup", f"{PKG}.streaming.crawl", "dedup_against_seen_scanonly"),
    ("operators.frontier", f"{PKG}.operators.frontier", "select_candidates"),
    ("operators.frontier", f"{PKG}.plans.crawl", "select_candidates"),
    ("operators.frontier", f"{PKG}.plans.crawl", "merge_frontier"),
    ("operators.robots", f"{PKG}.plans.crawl", "refresh_robots_cache"),
    ("operators.robots", f"{PKG}.plans.crawl", "apply_robots"),
    ("operators.robots", f"{PKG}.streaming.crawl", "refresh_robots_cache"),
    ("operators.robots", f"{PKG}.streaming.crawl", "apply_robots"),
    ("operators.politeness", f"{PKG}.operators.politeness", "assign_seq"),
    ("operators.politeness", f"{PKG}.plans.crawl", "apply_politeness"),
    ("operators.politeness", f"{PKG}.plans.crawl", "assign_seq"),
    ("operators.politeness", f"{PKG}.streaming.crawl", "apply_politeness"),
    ("operators.politeness", f"{PKG}.streaming.crawl", "assign_seq"),
    ("operators.fetch", f"{PKG}.plans.crawl", "fetch_and_extract"),
    ("operators.fetch", f"{PKG}.streaming.crawl", "fetch_and_extract"),
    ("operators.discover", f"{PKG}.plans.crawl", "discover_links"),
    ("operators.discover", f"{PKG}.streaming.crawl", "discover_links"),
    ("checkpoint.snapshot", f"{PKG}.checkpoint.snapshot.SnapshotCatalog", "commit"),
    ("plans.crawl", f"{PKG}.plans.crawl", "run_batch"),
    ("streaming.crawl", f"{PKG}.streaming.crawl", "run_crawl_streaming"),
    ("streaming.crawl", f"{PKG}.streaming.crawl", "_commit_epoch"),
    ("corpus.multimodal", f"{PKG}.corpus.multimodal", "decode_media"),
]

LAYERS = [
    "functions.urls",
    "operators.dedup",
    "operators.frontier",
    "operators.robots",
    "operators.politeness",
    "operators.fetch",
    "operators.discover",
    "checkpoint.snapshot",
    "plans.crawl",
    "streaming.crawl",
    "corpus.multimodal",
]

# per-layer quantity -> (unit, better)
QUANTITIES = {
    "self_s": ("s", "lower"),
    "calls": ("count", "lower"),
    "rows_out": ("rows", "lower"),
    "task_s": ("s", "lower"),
    "py_cpu_s": ("s", "lower"),
    "shuffle_read_mb": ("MB", "lower"),
    "shuffle_write_mb": ("MB", "lower"),
    "spark_jobs": ("count", "lower"),
}

# layers whose wrapped functions return no DataFrame, so have no rows_out
NO_ROWS = {"checkpoint.snapshot", "plans.crawl", "streaming.crawl"}


def layer_quantity_names() -> list[str]:
    return [f"{l}.{q}" for l in LAYERS for q in QUANTITIES
            if not (q == "rows_out" and l in NO_ROWS)]


# ratios of useful work to attempts: name -> (numerator, denominator) keys
RATIOS = {
    "operators.dedup.new_frac": ("dedup_new", "dedup_in"),
    "operators.dedup.filter_negative_frac": ("filter_negative", "filter_probed"),
    "operators.politeness.admitted_frac": ("admitted", "selected"),
    "corpus.multimodal.ok_frac": ("decoded_ok", "payloads"),
}


@dataclass
class Span:
    layer: str
    fn: str
    op: int
    parent: "Span | None"
    t0: float
    j0: int
    cpu0: float
    t1: float = 0.0
    j1: int = 0
    cpu1: float = 0.0
    rows: int = 0
    children: list = field(default_factory=list)
    stage: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.t1 - self.t0

    @property
    def self_s(self) -> float:
        return self.wall - sum(c.wall for c in self.children)

    @property
    def self_cpu(self) -> float:
        return (self.cpu1 - self.cpu0) - sum(c.cpu1 - c.cpu0 for c in self.children)


def _resolve(path: str):
    """Module or module.Class for a dotted path; None when missing."""
    try:
        return importlib.import_module(path)
    except ImportError:
        mod, _, cls = path.rpartition(".")
        try:
            return getattr(importlib.import_module(mod), cls, None)
        except ImportError:
            return None


def _dir_bytes(root: str) -> int:
    total = 0
    for d, _, files in os.walk(root):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:
                pass
    return total


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.counters: dict[str, float] = {}
        self.absent: list[str] = []
        self.op = 0
        self._restore: list[tuple[object, str, object]] = []
        jvm = spark._jvm
        self._store = spark._jsparkSession.sparkContext().statusStore()
        self._dag = spark._jsparkSession.sparkContext().dagScheduler()
        scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper().registerModule(
            getattr(scala_mod, "MODULE$")
        )
        self._jvm = jvm

    # ------------------------------------------------------ wrapping --
    def install(self) -> None:
        present = set()
        for layer, path, attr in WRAP_POINTS:
            target = _resolve(path)
            orig = getattr(target, attr, None) if target is not None else None
            if orig is None:
                continue
            present.add(layer)
            setattr(target, attr, self._wrap(layer, attr, orig))
            self._restore.append((target, attr, orig))
        self.absent = [l for l in LAYERS if l not in present]

    def uninstall(self) -> None:
        for target, attr, orig in reversed(self._restore):
            setattr(target, attr, orig)
        self._restore.clear()

    def _next_job_id(self) -> int:
        nxt = self._dag.nextJobId()  # an AtomicInteger on some Spark versions
        return int(nxt if isinstance(nxt, int) else nxt.get())

    def _add(self, key: str, v: float) -> None:
        self.counters[key] = self.counters.get(key, 0) + v

    def _wrap(self, layer: str, fn_name: str, orig):
        tracer = self

        def traced(*args, **kwargs):
            parent = tracer.stack[-1] if tracer.stack else None
            span = Span(layer, fn_name, tracer.op, parent, time.perf_counter(),
                        tracer._next_job_id(), python_worker_cpu_s())
            if parent is not None:
                parent.children.append(span)
            tracer.stack.append(span)
            tracer.sc.setJobGroup(layer, f"perfbench {layer}.{fn_name}")
            write0 = None
            if fn_name == "commit":
                write0 = _dir_bytes(str(args[0].root))
            try:
                out = orig(*args, **kwargs)
                if isinstance(out, DataFrame):
                    out = tracer._materialize(span, fn_name, args, out)
                if write0 is not None:
                    tracer._add("write_bytes", _dir_bytes(str(args[0].root)) - write0)
                return out
            finally:
                span.t1 = time.perf_counter()
                span.j1 = tracer._next_job_id()
                span.cpu1 = python_worker_cpu_s()
                tracer.stack.pop()
                tracer.spans.append(span)
                if parent is not None:
                    tracer.sc.setJobGroup(parent.layer, f"perfbench {parent.layer}")
                else:
                    tracer.sc.setLocalProperty("spark.jobGroup.id", None)

        traced.__wrapped__ = orig
        return traced

    def _materialize(self, span: Span, fn_name: str, args, out: DataFrame) -> DataFrame:
        # a checkpoint, not persist(): it truncates the lineage, so the
        # plans built on top of many materialized layers stay small
        out = out.localCheckpoint(eager=True)
        if fn_name == "apply_politeness":
            r = out.agg(F.count("*"), F.sum(F.col("admitted").cast("long"))).collect()[0]
            span.rows = int(r[0])
            self._add("selected", r[0])
            self._add("admitted", r[1] or 0)
        elif fn_name == "mark_maybe_seen":
            r = out.agg(F.count("*"), F.sum((~F.col("maybe_seen")).cast("long"))).collect()[0]
            span.rows = int(r[0])
            self._add("filter_probed", r[0])
            self._add("filter_negative", r[1] or 0)
        elif fn_name == "decode_media":
            r = out.agg(F.count("*"), F.countDistinct("media_id")).collect()[0]
            span.rows = int(r[0])
            self._add("payloads", args[0].count())
            self._add("decoded_ok", r[1])
        else:
            span.rows = out.count()
            if fn_name.startswith("dedup_against_seen"):
                self._add("dedup_in", args[0].count())
                self._add("dedup_new", span.rows)
        return out

    # ---------------------------------------------------------- ops --
    def begin_op(self, op: int) -> int:
        self.op = op
        return self._next_job_id()

    def end_op(self, j_start: int) -> None:
        """Charge the op's stages to its spans."""
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        ArrayList = self._jvm.java.util.ArrayList
        jobs = json.loads(self._mapper.writeValueAsString(self._store.jobsList(ArrayList())))
        no_quantiles = self.sc._gateway.new_array(self._jvm.double, 0)
        stages = json.loads(
            self._mapper.writeValueAsString(
                self._store.stageList(ArrayList(), False, False, no_quantiles, ArrayList())
            )
        )
        per_stage: dict[int, dict] = {}
        for s in stages:
            acc = per_stage.setdefault(s["stageId"], {
                "task_ms": 0, "shuffle_read": 0, "shuffle_write": 0})
            acc["task_ms"] += s.get("executorRunTime", 0)
            acc["shuffle_read"] += s.get("shuffleReadBytes", 0)
            acc["shuffle_write"] += s.get("shuffleWriteBytes", 0)
        op_spans = [s for s in self.spans if s.op == self.op]
        seen_stages: set[int] = set()
        for job in sorted(jobs, key=lambda j: j["jobId"]):
            jid = job["jobId"]
            if jid < j_start:
                continue
            owner = self._innermost(op_spans, jid)
            for sid in job.get("stageIds", []):
                if sid in seen_stages or sid not in per_stage:
                    continue
                seen_stages.add(sid)
                if owner is None:
                    continue
                for k, v in per_stage[sid].items():
                    owner.stage[k] = owner.stage.get(k, 0) + v
            if owner is not None:
                owner.stage["jobs"] = owner.stage.get("jobs", 0) + 1

    @staticmethod
    def _innermost(spans: list[Span], jid: int) -> "Span | None":
        best = None
        for s in spans:
            if s.j0 <= jid < s.j1 and (best is None or s.j1 - s.j0 < best.j1 - best.j0):
                best = s
        return best

    # ------------------------------------------------------ summary --
    def layer_metrics(self, n_ops: int) -> dict[str, float]:
        """Per-op averages of every layer quantity (0 where a layer did
        not run) plus the work ratios."""
        out = dict.fromkeys(layer_quantity_names(), 0.0)
        for s in self.spans:
            st = s.stage
            for q, v in (
                ("self_s", s.self_s),
                ("calls", 1),
                ("rows_out", s.rows),
                ("task_s", st.get("task_ms", 0) / 1e3),
                ("py_cpu_s", max(s.self_cpu, 0.0)),
                ("shuffle_read_mb", st.get("shuffle_read", 0) / 2**20),
                ("shuffle_write_mb", st.get("shuffle_write", 0) / 2**20),
                ("spark_jobs", st.get("jobs", 0)),
            ):
                if f"{s.layer}.{q}" in out:
                    out[f"{s.layer}.{q}"] += v / n_ops
        for name, (num, den) in RATIOS.items():
            d = self.counters.get(den, 0)
            out[name] = self.counters.get(num, 0) / d if d else 0.0
        out["checkpoint.snapshot.write_mb"] = self.counters.get("write_bytes", 0) / 2**20 / n_ops
        return out

    def top_level_s(self, op: int) -> float:
        return sum(s.wall for s in self.spans if s.op == op and s.parent is None)

    def self_total_s(self, op: int) -> float:
        return sum(s.self_s for s in self.spans if s.op == op)

    def span_records(self) -> list[dict]:
        return [
            {"layer": s.layer, "fn": s.fn, "op": s.op,
             "parent": s.parent.layer if s.parent else None,
             "start": round(s.t0, 6), "end": round(s.t1, 6), "rows": s.rows,
             "jobs": [s.j0, s.j1]}
            for s in self.spans
        ]
