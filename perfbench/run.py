"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload weather_etl --seed 1 --seconds 10 --trace 0

One closed-loop, single-client session (``local[<cores>]``, one
process). The steps, in order:

1. generate (or reuse) the seeded inputs and compute the oracle's
   answer -- outside every timing;
2. set-up: ``session.get_spark()`` through a first trivial action in
   this fresh process (``setup_s``, wall seconds);
3. the first full pipeline run in that fresh session
   (``first_run_cpu_s``), then ``WARMUP_RUNS`` unmeasured runs;
4. measured runs, at least one, until ``--seconds`` have passed, each
   after a full garbage collection in Python and the JVM (``run_cpu_s``
   = their median, ``recall_at_10`` = the mean recall of their query
   answers, ``peak_rss_mb`` = the peak resident memory of this process
   and its descendants over them);
5. with ``--trace 1`` one more run with layer tracing and the Spark
   event log on, reported as per-layer counters instead.

Runs are measured in CPU seconds of the whole process tree (Python,
the JVM and its Python workers; see ``procstat``); their wall seconds
are printed on the line before the result. Set-up, query batches and
``trace.overhead_s`` are in wall seconds.

Write policy: every run writes a fresh output directory (sink or
vector store) on local disk in overwrite mode, inside a work directory
that also holds ``SPARK_LOCAL_DIRS`` and the event log, and is removed
when the invocation ends. Every run is checked against an independent
oracle outside the timed region; a run that raises or fails its check
counts in ``failed``. ``ok_frac`` is the share of runs that passed.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

import procstat

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
# The driver heap of the benchmark session. Every working set fits in
# it; a fixed, modest heap keeps the JVM's resident memory steady
# between runs and small beside other processes on the machine.
DRIVER_MEM = "2g"
# Unmeasured runs between the first run and the measured ones: the
# second run of a session still spends about a tenth more CPU than the
# runs after it (the JIT is still compiling), the third is settled.
WARMUP_RUNS = 1
NAN = float("nan")

END_TO_END_UNITS = {
    "setup_s": "s", "first_run_cpu_s": "s", "run_cpu_s": "s",
    "peak_rss_mb": "MB", "stored_bytes_per_input_byte": "ratio",
    "ok_frac": "ratio", "recall_at_10": "ratio",
}


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _start_spark(work: Path, trace: bool):
    """Fresh session for this process; returns (spark, setup seconds)."""
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # a fixed-size heap: no heap resizing between runs, so GC work
        # and resident memory depend on the workload, not on history;
        # JVM scratch files stay in the work directory
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"),
    }
    if trace:
        (work / "events").mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (work / "events").as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    t0 = time.perf_counter()
    from etl_on_weather_dataset_spark.session import get_spark

    spark = get_spark(extra_conf=conf)
    spark.range(1).count()
    setup_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, setup_s


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM this process launched, and wait
    for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def _dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


# -- one invocation ---------------------------------------------------------------
class Runner:
    def __init__(self, args, inputs: dict, work: Path):
        from workloads import WORKLOADS

        self.args = args
        self.inputs = inputs
        self.work = work
        self.wl = WORKLOADS[args.workload](inputs, work)
        self.attempted = 0
        self.failed = 0
        self.stored: list[float] = []
        self.n = 0

    def once(self, spark, span) -> tuple[dict | None, Path]:
        """One timed pipeline run, then its output check. Returns the
        run's result (None if it raised) with its wall and CPU seconds."""
        out = self.work / f"out{self.n}"
        self.n += 1
        self.attempted += 1
        try:
            t0, c0 = time.perf_counter(), procstat.cpu_seconds()
            result = self.wl.run(spark, out, span)
            result["wall_s"] = time.perf_counter() - t0
            result["cpu_s"] = procstat.cpu_seconds() - c0
            if self.args.corrupt:
                from workloads import corrupt

                corrupt(self.args.workload, out, result)
            problems = self.wl.check(out, result)
        except Exception:  # a failed run is counted, not fatal
            traceback.print_exc()
            self.failed += 1
            return None, out
        if problems:
            print(f"check failed: {problems}", file=sys.stderr)
            self.failed += 1
        self.stored.append(_dir_bytes(out) / self.inputs["bytes"])
        return result, out

    def measure(self) -> dict:
        args = self.args
        self.wl.expected()  # the oracle runs before Spark starts
        spark, setup_s = _start_spark(self.work, args.trace)
        try:
            first, out = self.once(spark, _null_span)
            shutil.rmtree(out, ignore_errors=True)
            for _ in range(WARMUP_RUNS):
                _, out = self.once(spark, _null_span)
                shutil.rmtree(out, ignore_errors=True)
            procstat.reset_peak_rss()
            warm: list[dict] = []
            t_loop = time.perf_counter()
            while not warm or time.perf_counter() - t_loop < args.seconds:
                # start each measured run from a collected heap, so that
                # no run pays for a collection its predecessor left due
                gc.collect()
                spark.sparkContext._jvm.System.gc()
                result, out = self.once(spark, _null_span)
                shutil.rmtree(out, ignore_errors=True)
                if result is None:
                    break
                warm.append(result)
            rss = procstat.peak_rss_mb()
            print(json.dumps({"runs": [
                {k: r[k] for k in ("wall_s", "cpu_s")}
                for r in ([first] if first else []) + warm]}), file=sys.stderr)

            def median(key: str) -> float:
                return statistics.median(r[key] for r in warm) if warm else NAN

            batches = [x for r in warm for x in r.get("query_batch_s", [])]
            self.wall = {"setup_s": setup_s,
                         "first_run_s": first["wall_s"] if first else NAN,
                         "run_s": median("wall_s")}
            if args.trace:
                metrics = self.traced(spark, self.wall["run_s"])
                metrics["operators.ann_store.query_batch_s"] = (
                    min(batches) if batches else 0.0)
            else:
                metrics = {
                    "setup_s": setup_s,
                    "first_run_cpu_s": first["cpu_s"] if first else NAN,
                    "run_cpu_s": median("cpu_s"),
                    "peak_rss_mb": rss,
                    "stored_bytes_per_input_byte": (
                        statistics.median(self.stored) if self.stored
                        else NAN),
                    "ok_frac": (self.attempted - self.failed) / self.attempted,
                    "recall_at_10": (statistics.fmean(r["recall"] for r in warm)
                                     if warm else NAN),
                }
        finally:
            _stop_spark(spark)
        if args.trace:
            metrics.update(self.layer_counters())
        return metrics

    def traced(self, spark, run_s: float) -> dict[str, float]:
        from layertrace import EXTRAS, Tracer

        tracer = Tracer(spark)
        tracer.install()
        try:
            result, out = self.once(spark, tracer.span)
        finally:
            tracer.uninstall()
        tracer.count_pairs()
        self.tracer = tracer
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", "pb-post")
        extras = self.wl.trace_extras(spark, out)
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        return {
            **{k: 0.0 for k in EXTRAS},
            "trace.overhead_s": (result["wall_s"] if result else NAN) - run_s,
            "sources.io.output_files": float(sum(
                1 for p in out.rglob("part-*") if not p.name.endswith(".crc"))),
            **tracer.extras,
            **extras,
        }

    def layer_counters(self) -> dict[str, float]:
        from layertrace import layer_metrics, parse_event_log

        ev = parse_event_log(self.work / "events")
        out = layer_metrics(self.tracer.spans, ev, _cores())
        results = HERE / ".results"
        results.mkdir(exist_ok=True)
        self.tracer.dump(results / f"{self.args.workload}-s{self.args.seed}-spans.json")
        return out


class _NullSpan:
    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False


def _null_span(layer: str) -> _NullSpan:
    return _NullSpan()


def _units(name: str) -> str:
    if name in END_TO_END_UNITS:
        return END_TO_END_UNITS[name]
    for suffix, unit in (("_s", "s"), ("_mb", "MB"), (".core_util", "ratio"),
                         ("_ppm", "ppm")):
        if name.endswith(suffix):
            return unit
    return "count"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", default="small",
                    help="input size preset (gen.SIZES); 'tiny' for self-tests")
    ap.add_argument("--corrupt", action="store_true",
                    help="damage every run's output before its check")
    args = ap.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    import etl_on_weather_dataset_spark  # noqa: F401  fails fast if absent

    import gen
    from layertrace import metric_names
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}")
    inputs = gen.ensure_inputs(args.workload, args.seed, args.size)
    work = HERE / ".work" / f"{args.workload}-s{args.seed}-{os.getpid()}"
    work.mkdir(parents=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    (work / "tmp").mkdir()
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(_cores())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    try:
        runner = Runner(args, inputs, work)
        metrics = runner.measure()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    want = metric_names() if args.trace else list(END_TO_END_UNITS)
    if sorted(metrics) != sorted(want):
        raise RuntimeError(f"metric names differ: {sorted(set(metrics) ^ set(want))}")
    print(json.dumps({"inputs": {"rows": inputs["rows"], "bytes": inputs["bytes"]},
                      "runs": runner.attempted, "wall": runner.wall}))
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": metrics[k], "unit": _units(k)} for k in want},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
