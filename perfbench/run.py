#!/usr/bin/env python3
"""Benchmark of the linkage engine: one seeded workload per invocation.

    python3 perfbench/run.py --workload linkage --seed 1 --seconds 12 --trace 0

Run from the root of the repository. Workloads: ``linkage``, ``dedup``,
``lookup`` (see README.md). With ``--trace 0`` the last line of standard
output is one JSON object holding the end-to-end metrics; with
``--trace 1`` it holds the per-layer metrics. The line before it is a
report with sample counts, percentiles, set-up times and host readings.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from contextlib import nullcontext  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402

import layers  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = os.path.join(ROOT, "liblevenshtein_rust_spark")

#: input writes per set-up; setup_s takes their median
SETUPS = 3
#: fewest untraced operations a run measures, however short --seconds is
MIN_OPS = 2
#: driver JVM heap (local mode: the only JVM)
HEAP = "2g"

END_TO_END = {
    "setup_s": "s", "wall_s": "s", "rows_per_s": "1/s",
    "batch_p50_s": "s", "batch_p90_s": "s", "cpu_s": "s",
    "peak_rss_mb": "MB", "shuffle_mb": "MB", "quality_milli": "milli",
}

_GENERIC_UNITS = {"wall_s": "s", "self_s": "s", "driver_s": "s",
                  "jobs": "count", "task_s": "s", "cpu_s": "s", "gc_s": "s",
                  "shuffle_write_mb": "MB", "shuffle_read_mb": "MB",
                  "spill_mb": "MB", "rows_out": "count"}
PER_LAYER = {f"{layer}.{m}": _GENERIC_UNITS[m] for layer in layers.LAYERS
             for m in layers.GENERIC}
PER_LAYER.update({
    "fuzzy_join.key_rows": "count", "fuzzy_join.join_rows": "count",
    "fuzzy_join.candidate_pairs": "count", "fuzzy_join.verified_pairs": "count",
    "fuzzy_join.verify_yield": "ratio",
    "distance.python_rows": "count", "distance.python_bytes_sent": "bytes",
    "distance.python_bytes_returned": "bytes",
    "distance.kernel_pairs_per_s": "1/s",
    "dedup.token_rows": "count", "dedup.candidate_pairs": "count",
    "dedup.verified_pairs": "count", "dedup.verify_yield": "ratio",
    "cluster.edges": "count", "cluster.components": "count",
    "cluster.largest_component": "count",
    "pipeline.bytes_written": "bytes",
    "cold_s": "s", "unattributed_s": "s", "reconcile_residual_s": "s",
    "tracing_overhead_s": "s",
})


@dataclass
class Sample:
    """One measured operation."""
    traced: bool
    wall_s: float
    batches: list[float]
    rows_in: int
    cpu_s: float
    peak_rss_mb: float
    shuffle_mb: float
    ok: bool
    quality_milli: int
    reason: str = ""
    layers: dict = field(default_factory=dict)


def percentile_report(values: list[float]) -> dict:
    """Median, and the highest percentile with at least ten samples
    beyond it (none below 20 samples), with the sample count."""
    n = len(values)
    out = {"n": n, "median": statistics.median(values) if values else None,
           "values": values}
    if n >= 20:
        p = int(100 * (1 - 10 / n))
        out[f"p{p}"] = statistics.quantiles(values, n=100, method="inclusive")[p - 1]
    return out


def _p90(values: list[float]) -> float:
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=10, method="inclusive")[8]


def end_to_end(setup_s: float, cold: Sample, samples: list[Sample]) -> dict:
    """The end-to-end metrics of a run from its untraced samples."""
    plain = [s for s in samples if not s.traced]
    wall = statistics.median(s.wall_s for s in plain)
    batches = [b for s in plain for b in s.batches]
    return {
        "setup_s": setup_s,
        "wall_s": wall,
        "rows_per_s": statistics.median(s.rows_in / s.wall_s for s in plain),
        "batch_p50_s": statistics.median(batches),
        "batch_p90_s": _p90(batches),
        "cpu_s": statistics.median(s.cpu_s for s in plain),
        "peak_rss_mb": statistics.median(s.peak_rss_mb for s in plain),
        "shuffle_mb": statistics.median(s.shuffle_mb for s in plain),
        "quality_milli": min(s.quality_milli for s in [cold] + samples),
    }


def per_layer(setup_layers: dict, cold: Sample, samples: list[Sample],
              kernel_pairs_per_s: float) -> dict:
    """The per-layer metrics of a traced run: the median over its traced
    samples; the set-up layers from the first (cold) input write."""
    traced = [s for s in samples if s.traced]
    plain = [s for s in samples if not s.traced]
    out = {}
    for name in PER_LAYER:
        vals = [s.layers.get(name, 0) for s in traced]
        out[name] = statistics.median(vals) if vals else 0
    for name, value in setup_layers.items():
        if name.startswith(("session.", "sources.")):
            out[name] = value
    for layer in ("fuzzy_join", "dedup"):
        cand = out[f"{layer}.candidate_pairs"]
        out[f"{layer}.verify_yield"] = (
            out[f"{layer}.verified_pairs"] / cand if cand else 0)
    out["distance.kernel_pairs_per_s"] = kernel_pairs_per_s
    out["cold_s"] = cold.wall_s
    out["tracing_overhead_s"] = (statistics.median(s.wall_s for s in traced)
                                 - statistics.median(s.wall_s for s in plain))
    return out


def result_line(correct: bool, attempted: int, failed: int, metrics: dict,
                units: dict) -> str:
    return json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    })


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------

class Bench:
    """One benchmark run: set-ups, the cold operation and the measured
    window, all in one Spark application process tree."""

    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.spark = None
        self.samples: list[Sample] = []
        self.failed = 0
        self.attempted = 0

    # -- session -----------------------------------------------------------
    def _conf(self) -> dict:
        d = {k: os.path.join(self.work, k) for k in
             ("events", "local", "warehouse", "tmp")}
        for path in d.values():
            os.makedirs(path, exist_ok=True)
        return {
            "spark.ui.enabled": "false",
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": d["events"],
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.local.dir": d["local"],
            "spark.sql.warehouse.dir": d["warehouse"],
            # a fixed, pre-touched heap: resident memory then moves with
            # what lives outside the heap, and heap pressure shows as GC time
            "spark.driver.memory": HEAP,
            "spark.driver.extraJavaOptions":
                f"-Xms{HEAP} -XX:+AlwaysPreTouch -XX:-UsePerfData "
                f"-Djava.io.tmpdir={d['tmp']}",
        }

    def start_session(self) -> None:
        import eventlog
        from liblevenshtein_rust_spark.session import get_spark
        self.spark = get_spark(
            "perfbench", master=f"local[{len(os.sched_getaffinity(0))}]",
            extra_conf=self._conf())
        self.log = eventlog.EventLog(self.spark, os.path.join(self.work, "events"))
        self.tracer = layers.Tracer(self.spark)

    def set_up(self) -> tuple[float, dict]:
        """Start the session, then generate and write the inputs
        ``SETUPS`` times, each into a fresh directory (the last copy is the
        one measured). Set-up time is the time from process start until
        the session is up plus the median time to write the inputs.
        Returns it with the layer metrics of the first (cold) set-up."""
        import eventlog
        from workloads import WORKLOADS
        w0 = time.time() - (time.perf_counter() - T_START)
        self.start_session()
        session_s = time.perf_counter() - T_START
        w_session = time.time()
        writes, found = [], {}
        for i in range(SETUPS):
            self.wl = WORKLOADS[self.args.workload](
                self.args.seed, os.path.join(self.work, f"setup{i}"))
            t0 = time.perf_counter()
            with self.tracer.span("sources"):
                self.wl.write_inputs(self.spark)
            writes.append(time.perf_counter() - t0)
            if i == 0:
                w1 = time.time()
                work = eventlog.summarize(self.log.drain())
                spans = [("session", w0, w_session)] + self.tracer.take()
                found = layers.layer_metrics(work, spans, w0, w1, w1 - w0)
        self.setup_parts = {"session_s": session_s, "inputs_s": writes}
        return session_s + statistics.median(writes), found

    def stop(self) -> None:
        """Stop the session, the JVM and every process they started, and
        wait for each to end."""
        import procstat
        from pyspark import SparkContext
        kids = procstat.descendants()
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except Exception:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        left = procstat.wait_gone(kids, 30)
        for pid in left:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        procstat.wait_gone(left, 10)

    # -- one operation -----------------------------------------------------
    def measure(self, wl, traced: bool) -> Sample:
        import checks
        import eventlog
        import procstat
        self.log.drain()
        gc.collect()
        memory = procstat.MemorySampler()
        cpu0 = procstat.tree_cpu_s()
        with memory, self.tracer.patched() if traced else nullcontext():
            out = wl.run(self.spark, self.tracer if traced else None)
        cpu = procstat.tree_cpu_s() - cpu0
        peak = memory.peak
        work = eventlog.summarize(self.log.drain())
        spans = self.tracer.take()
        shuffle = sum(c["shuffle_write_mb"] for c in work.stage_tasks.values())
        found = {}
        if traced:
            found = layers.layer_metrics(work, spans, *out.window, out.wall_s,
                                         out.collected)
        try:
            verdict, counts = wl.check(self.spark, out, traced)
            found.update(counts)
            if traced:
                found["pipeline.bytes_written"] = _tree_bytes(
                    out.output.get("run_dir"))
        except Exception as e:  # a check that cannot run is a wrong output
            verdict = checks.Verdict(False, 0, f"check raised {e!r}")
        finally:
            wl.cleanup(out)
        if traced and verdict.ok and not layers.reconciles(
                found["reconcile_residual_s"], out.wall_s):
            verdict = checks.Verdict(
                False, verdict.quality_milli,
                f"layer times do not reconcile: residual "
                f"{found['reconcile_residual_s']:.4f} s")
        return Sample(traced, out.wall_s, out.batches, out.rows_in, cpu, peak,
                      shuffle, verdict.ok, verdict.quality_milli,
                      verdict.reason, found)

    def record(self, sample: Sample) -> Sample:
        self.attempted += 1
        if not sample.ok:
            self.failed += 1
            print(f"perfbench: wrong output: {sample.reason}", file=sys.stderr)
        return sample

    # -- the whole run -----------------------------------------------------
    def run(self) -> tuple[dict, dict]:
        import procstat
        steal0 = procstat.cpu_times()
        host0 = procstat.host_reading()
        setup_s, setup_layers = self.set_up()
        cold = self.record(self.measure(self.wl, traced=False))
        trace = bool(self.args.trace)
        min_ops = 2 * MIN_OPS if trace else MIN_OPS
        deadline = time.perf_counter() + self.args.seconds
        while time.perf_counter() < deadline or len(self.samples) < min_ops:
            # untraced, traced, traced, untraced, ...: both kinds sit equally
            # far along the JIT warm-up, so their difference is the overhead
            traced = trace and len(self.samples) % 4 in (1, 2)
            self.samples.append(self.record(self.measure(self.wl, traced)))
        kernel = 0.0
        if trace and hasattr(self.wl, "kernel_pairs_per_s"):
            kernel = self.wl.kernel_pairs_per_s()
        self.box = procstat.box_spec(
            self.spark._jvm.java.lang.System.getProperty("java.version"))
        host = {"start": host0, "end": procstat.host_reading(since=steal0)}
        if trace:
            metrics = per_layer(setup_layers, cold, self.samples, kernel)
        else:
            metrics = end_to_end(setup_s, cold, self.samples)
        plain = [s for s in self.samples if not s.traced]
        report = {
            "workload": self.args.workload, "seed": self.args.seed,
            "seconds": self.args.seconds, "trace": self.args.trace,
            "box": self.box, "host": host,
            "setup_s": setup_s, "setup_parts": self.setup_parts,
            "cold_s": cold.wall_s,
            "wall_s": percentile_report([s.wall_s for s in plain]),
            "batch_s": percentile_report([b for s in plain for b in s.batches]),
            "cpu_s": [s.cpu_s for s in plain],
            "peak_rss_mb": [s.peak_rss_mb for s in plain],
            "failed_frac": self.failed / max(self.attempted, 1),
        }
        if trace:
            report["reconcile_tolerance"] = {
                "share_of_wall": layers.RECONCILE_SHARE,
                "floor_s": layers.RECONCILE_FLOOR_S}
            report["traced_wall_s"] = percentile_report(
                [s.wall_s for s in self.samples if s.traced])
        return metrics, report


def _tree_bytes(path: str | None) -> int:
    total = 0
    for d, _, files in os.walk(path or ""):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("linkage", "dedup", "lookup"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(ENGINE):
        print(f"perfbench: the engine package {ENGINE} is missing; run from "
              "the root of a full checkout", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # everything Spark, the JVM and the Python workers write stays in `work`
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    sys.path[:0] = [ROOT, HERE]
    bench = Bench(args, work)
    try:
        metrics, report = bench.run()
    finally:
        bench.stop()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    units = PER_LAYER if args.trace else END_TO_END
    print(json.dumps({"report": report}))
    print(result_line(bench.failed == 0, bench.attempted, bench.failed,
                      metrics, units))
    return 0


if __name__ == "__main__":
    sys.exit(main())
