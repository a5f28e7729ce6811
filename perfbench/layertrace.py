"""Layer tracing for the traced benchmark run, measured from outside.

The package is not modified. ``Tracer.install`` replaces every public
function of the layer modules with a wrapper, in every loaded package
module that binds it, so calls made by the plan modules go through it.
Each wrapped call opens a span and runs under its own Spark job group
(the span id), so Spark's event log attributes every job, stage and
task to the innermost span. Spans stay in memory; ``layer_metrics``
joins them with the parsed event log when the run is over.

- A call into a layer made while a span of that same layer is open
  runs untraced: spans mark layer boundaries, not internal helpers.
- Eager calls (``EAGER``) are timed as they are.
- A lazy call that returns a DataFrame gets a ``noop``-sink
  materialization inside its span. Its self time is the span minus
  the spans that produced its DataFrame arguments (a prefix-marginal
  cost) minus its child spans.
- ``operators.text`` only builds expressions, so it has no span: its
  cost lands in the first ``persisted`` boundary of a curation run.
- A span a workload opens under a name that is not a layer (the
  ann_index root, the weather sink queries) reports no layer counters;
  its own jobs count only in the ``spark.*`` engine totals.
"""

from __future__ import annotations

import json
import sys
import time
from dataclasses import dataclass, field
from pathlib import Path

PKG = "etl_on_weather_dataset_spark"

LAYERS = [
    "sources.io",
    "operators.clean", "operators.derive", "operators.agg",
    "operators.joins", "operators.validate",
    "operators.caching", "operators.dedup", "operators.sample",
    "operators.cluster", "operators.ann_store", "operators.versioned",
    "plans.pipeline", "plans.curation",
]
# Plan layers are spans the workloads open around a whole pipeline run;
# the other layers are module functions wrapped by the tracer.
PLAN_LAYERS = {"plans.pipeline", "plans.curation"}
LAYER_COUNTERS = ["wall_s", "self_s", "jobs", "tasks", "shuffle_mb",
                  "driver_gap_s"]
EAGER = {
    "sources.io": {"write_parquet", "write_csv", "write_jsonl",
                   "write_orc", "write_jdbc"},
    "operators.validate": {"check", "assert_observation"},
    "operators.dedup": {"dedup_components"},
    "operators.caching": {"release_all", "untrack"},
    "operators.cluster": {"kmeans_fit"},
    "operators.ann_store": {"ivf_index_build", "ivf_index_append",
                            "ivf_index_compact", "gc_segments"},
    # the versioned publish: marker write, then old-version vacuum
    "operators.versioned": {"commit", "vacuum"},
}
ENGINE = ["jobs", "stages", "tasks", "failed_tasks", "executor_s",
          "core_util", "gc_s", "spill_mb", "shuffle_mb", "input_mb"]
# Counters read outside the spans: after the traced run, from the
# wrapped calls' return values, or from the store -- except
# ``query_batch_s``, the fastest ``ivf_index_query`` batch (collected,
# wall seconds) of the untraced measured runs before the traced one.
EXTRAS = [
    "sources.io.output_files", "operators.caching.frames_released",
    "operators.dedup.pairs", "operators.ann_store.segments",
    "operators.ann_store.cell_skew_ppm", "operators.ann_store.index_mb",
    "operators.ann_store.query_batch_s", "trace.overhead_s",
]


def metric_names() -> list[str]:
    """Every per-layer metric a traced run reports, in a fixed order."""
    return ([f"{layer}.{c}" for layer in LAYERS for c in LAYER_COUNTERS]
            + [f"spark.{e}" for e in ENGINE] + EXTRAS)
MB = 1024.0 * 1024.0


@dataclass
class Span:
    sid: str
    layer: str
    name: str
    parent: str | None
    t0: float
    t1: float = 0.0
    lazy: bool = False
    inputs: list[str] = field(default_factory=list)


class Tracer:
    """Owns the spans of one traced run and the patches that make them."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.extras: dict[str, float] = {}
        self._produced: dict[int, tuple[object, str]] = {}
        self._patches: list[tuple[object, str, object]] = []

    # -- spans ------------------------------------------------------------
    def _enter(self, layer: str, name: str, inputs: list[str]) -> Span:
        parent = self.stack[-1].sid if self.stack else None
        sp = Span(f"pb{len(self.spans)}", layer, name, parent,
                  time.time(), inputs=inputs)
        self.spans.append(sp)
        self.stack.append(sp)
        self.sc.setLocalProperty("spark.jobGroup.id", sp.sid)
        return sp

    def _exit(self, sp: Span) -> None:
        sp.t1 = time.time()
        self.stack.pop()
        self.sc.setLocalProperty(
            "spark.jobGroup.id", self.stack[-1].sid if self.stack else None
        )

    def span(self, layer: str):
        """Context manager for a span the benchmark opens itself."""
        tracer = self

        class _Ctx:
            def __enter__(self):
                self.sp = tracer._enter(layer, layer, [])

            def __exit__(self, *exc):
                tracer._exit(self.sp)

        return _Ctx()

    def _wrap(self, layer: str, name: str, fn):
        from pyspark.sql import DataFrame

        eager = name in EAGER.get(layer, ())

        def traced(*args, **kwargs):
            if any(s.layer == layer for s in self.stack):
                return fn(*args, **kwargs)
            inputs = [
                self._produced[id(a)][1]
                for a in (*args, *kwargs.values())
                if isinstance(a, DataFrame) and id(a) in self._produced
            ]
            sp = self._enter(layer, name, inputs)
            try:
                out = fn(*args, **kwargs)
                if isinstance(out, DataFrame) and not eager:
                    sp.lazy = True
                    out.write.format("noop").mode("overwrite").save()
                    self._produced[id(out)] = (out, sp.sid)
                if layer == "operators.caching" and name == "release_all":
                    key = "operators.caching.frames_released"
                    self.extras[key] = self.extras.get(key, 0) + out
                if layer == "operators.dedup" and name == "dedup_components":
                    self.extras.setdefault("_pairs_frames", []).append(args[0])
                return out
            finally:
                self._exit(sp)

        traced.__wrapped__ = fn
        return traced

    # -- patching ---------------------------------------------------------
    def install(self) -> None:
        import importlib

        wrappers: dict[int, object] = {}
        for layer in LAYERS:
            if layer in PLAN_LAYERS:
                continue
            mod = importlib.import_module(f"{PKG}.{layer}")
            for name, obj in vars(mod).items():
                if (callable(obj) and not name.startswith("_")
                        and getattr(obj, "__module__", None) == mod.__name__
                        and not isinstance(obj, type)):
                    wrappers[id(obj)] = self._wrap(layer, name, obj)
        for modname, mod in list(sys.modules.items()):
            if mod is None or not modname.startswith(PKG):
                continue
            for name, obj in list(vars(mod).items()):
                w = wrappers.get(id(obj))
                if w is not None:
                    self._patches.append((mod, name, obj))
                    setattr(mod, name, w)

    def uninstall(self) -> None:
        for mod, name, obj in reversed(self._patches):
            setattr(mod, name, obj)
        self._patches.clear()
        self._produced.clear()

    def count_pairs(self) -> None:
        """Rows of the pair frames handed to dedup_components, counted
        after the traced run under a group of their own."""
        frames = self.extras.pop("_pairs_frames", [])
        self.sc.setLocalProperty("spark.jobGroup.id", "pb-post")
        self.extras["operators.dedup.pairs"] = float(
            sum(f.count() for f in frames)
        )
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def dump(self, path: Path) -> None:
        path.write_text(json.dumps([vars(s) for s in self.spans]))


# -- event log ---------------------------------------------------------------
@dataclass
class EventLog:
    jobs: dict[int, dict] = field(default_factory=dict)  # id -> group, t0, t1
    stage_group: dict[tuple[int, int], str | None] = field(default_factory=dict)
    stages_done: list[tuple[int, int]] = field(default_factory=list)
    tasks: list[dict] = field(default_factory=list)


def parse_event_log(log_dir: Path) -> EventLog:
    """Read Spark's JSON-lines event log (uncompressed, not rolling)."""
    ev = EventLog()
    for f in sorted(p for p in log_dir.iterdir() if p.is_file()):
        with open(f) as fh:
            for line in fh:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    ev.jobs[e["Job ID"]] = {
                        "group": (e.get("Properties") or {}).get(
                            "spark.jobGroup.id"),
                        "t0": e["Submission Time"] / 1000.0,
                        "t1": None,
                    }
                elif kind == "SparkListenerJobEnd":
                    ev.jobs[e["Job ID"]]["t1"] = e["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageSubmitted":
                    info = e["Stage Info"]
                    ev.stage_group[(info["Stage ID"],
                                    info["Stage Attempt ID"])] = (
                        (e.get("Properties") or {}).get("spark.jobGroup.id")
                    )
                elif kind == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    ev.stages_done.append((info["Stage ID"],
                                           info["Stage Attempt ID"]))
                elif kind == "SparkListenerTaskEnd":
                    m = e.get("Task Metrics") or {}
                    info = e["Task Info"]
                    ev.tasks.append({
                        "stage": (e["Stage ID"], e["Stage Attempt ID"]),
                        "failed": bool(info.get("Failed"))
                        or e["Task End Reason"]["Reason"] != "Success",
                        "run_s": m.get("Executor Run Time", 0) / 1000.0,
                        "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                        "spill": m.get("Disk Bytes Spilled", 0),
                        "shuffle": (m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0),
                        "input": (m.get("Input Metrics") or {}).get(
                            "Bytes Read", 0),
                    })
    return ev


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def layer_metrics(spans: list[Span], ev: EventLog, cores: int) -> dict[str, float]:
    """Per-layer counters plus engine totals for one traced run."""
    by_sid = {s.sid: s for s in spans}
    children: dict[str, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)

    def subtree(s: Span) -> set[str]:
        out = {s.sid}
        for c in children.get(s.sid, []):
            out |= subtree(c)
        return out

    jobs_of: dict[str, list[dict]] = {}
    for j in ev.jobs.values():
        jobs_of.setdefault(j["group"], []).append(j)
    tasks_of: dict[str | None, list[dict]] = {}
    for t in ev.tasks:
        tasks_of.setdefault(ev.stage_group.get(t["stage"]), []).append(t)

    out = {f"{layer}.{c}": 0.0 for layer in LAYERS for c in LAYER_COUNTERS}
    for s in spans:
        if s.layer not in LAYERS:
            continue
        dur = s.t1 - s.t0
        kids = children.get(s.sid, [])
        prefix = sum(by_sid[i].t1 - by_sid[i].t0 for i in s.inputs) if s.lazy else 0.0
        own = dur - sum(k.t1 - k.t0 for k in kids) - prefix
        job_iv = [(j["t0"], j["t1"]) for sid in subtree(s)
                  for j in jobs_of.get(sid, [])]
        p = s.layer
        out[f"{p}.wall_s"] += dur
        out[f"{p}.self_s"] += max(0.0, own)
        out[f"{p}.jobs"] += len(jobs_of.get(s.sid, []))
        out[f"{p}.tasks"] += len(tasks_of.get(s.sid, []))
        out[f"{p}.shuffle_mb"] += sum(t["shuffle"] for t in tasks_of.get(s.sid, [])) / MB
        out[f"{p}.driver_gap_s"] += dur - _covered(job_iv, s.t0, s.t1)

    sids = set(by_sid)
    tasks = [t for g, ts in tasks_of.items() if g in sids for t in ts]
    roots = [s for s in spans if s.parent is None]
    wall = sum(s.t1 - s.t0 for s in roots)
    executor_s = sum(t["run_s"] for t in tasks)
    out.update({
        "spark.jobs": float(sum(len(jobs_of.get(sid, [])) for sid in sids)),
        "spark.stages": float(sum(1 for st in ev.stages_done
                                  if ev.stage_group.get(st) in sids)),
        "spark.tasks": float(len(tasks)),
        "spark.failed_tasks": float(sum(t["failed"] for t in tasks)),
        "spark.executor_s": executor_s,
        "spark.core_util": executor_s / (wall * cores) if wall else 0.0,
        "spark.gc_s": sum(t["gc_s"] for t in tasks),
        "spark.spill_mb": sum(t["spill"] for t in tasks) / MB,
        "spark.shuffle_mb": sum(t["shuffle"] for t in tasks) / MB,
        "spark.input_mb": sum(t["input"] for t in tasks) / MB,
    })
    return out
