"""Layer spans recorded around calls into the engine's public functions,
and per-layer metrics that join those spans with Spark's own metrics.

Nothing inside ``liblevenshtein_rust_spark`` is changed. In a traced
operation ``Tracer.patched()`` wraps the engine functions below where the
pipelines look them up; each wrapper opens a span and tags the Spark jobs
launched inside it with the layer's name (a thread-local Spark property).

A pipeline stage's checkpoint write runs the lazy plan its stage function
returned, so a job that writes ``<checkpoint>/<run_id>/<stage>`` belongs
to the layer that built that stage (``STAGE_LAYER``). The runner's other
jobs (read-back, lineage, row counts, metrics) stay with ``pipeline``.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import math
import time
from collections import Counter

from eventlog import LAYER_PROPERTY, SparkWork

#: short layer name -> engine module
LAYERS = {
    "canonicalize": "functions.canonicalize",
    "fuzzy_join": "operators.fuzzy_join",
    "dedup": "operators.dedup",
    "cluster": "operators.cluster",
    "pipeline": "plans.pipeline",
    "session": "session",
    "sources": "sources",
}

#: pipeline stage -> layer whose function built the stage's plan
STAGE_LAYER = {
    "canon": "canonicalize",
    "terms": "fuzzy_join",
    "scored_pairs": "fuzzy_join",
    "clusters": "cluster",
    "turn_entities": "pipeline",
    "dedup_pairs": "dedup",
    "dedup_survivors": "cluster",
}

#: (module, attribute, layer): engine functions wrapped in a traced run,
#: patched where the pipelines look them up
PATCHES = (
    ("liblevenshtein_rust_spark.plans.pipeline", "build_dictionary", "fuzzy_join"),
    ("liblevenshtein_rust_spark.plans.pipeline", "fuzzy_self_join", "fuzzy_join"),
    ("liblevenshtein_rust_spark.plans.pipeline", "connected_components", "cluster"),
    ("liblevenshtein_rust_spark.operators.dedup", "token_jaccard_pairs", "dedup"),
    ("liblevenshtein_rust_spark.operators.dedup", "near_dup_dedup", "dedup"),
    ("liblevenshtein_rust_spark.operators.cluster", "component_survivor_counts",
     "cluster"),
)

GENERIC = ("wall_s", "self_s", "driver_s", "jobs", "task_s", "cpu_s", "gc_s",
           "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "rows_out")

#: |residual| allowed by the reconciliation check: share of wall_s, floor
RECONCILE_SHARE = 0.01
RECONCILE_FLOOR_S = 0.01


class Tracer:
    """Records ``(layer, start, end)`` spans on the epoch clock Spark's
    event timestamps use, and tags jobs with the innermost open layer."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._stack: list[str] = []
        self.spans: list[tuple[str, float, float]] = []

    @contextlib.contextmanager
    def span(self, layer: str):
        self._stack.append(layer)
        self._sc.setLocalProperty(LAYER_PROPERTY, layer)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            self._stack.pop()
            self._sc.setLocalProperty(
                LAYER_PROPERTY, self._stack[-1] if self._stack else None)
            self.spans.append((layer, t0, t1))

    def take(self) -> list[tuple[str, float, float]]:
        spans, self.spans = self.spans, []
        return spans

    @contextlib.contextmanager
    def patched(self):
        """Wrap the engine functions in ``PATCHES`` for the duration."""
        saved = []
        for mod_name, attr, layer in PATCHES:
            mod = importlib.import_module(mod_name)
            fn = getattr(mod, attr)
            saved.append((mod, attr, fn))
            setattr(mod, attr, self._wrap(fn, layer))
        try:
            yield
        finally:
            for mod, attr, fn in saved:
                setattr(mod, attr, fn)

    def _wrap(self, fn, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer):
                return fn(*args, **kwargs)
        return traced


def job_layers(work: SparkWork) -> dict[int, str | None]:
    """Layer of every job: the stage a checkpoint write materializes, else
    the layer tag the job was launched under."""
    out = {}
    for jid, job in work.jobs.items():
        layer = job.layer
        ex = work.executions.get(job.execution)
        if ex is not None and ex.write_path:
            parts = ex.write_path.rstrip("/").split("/")
            if len(parts) >= 2 and parts[-2] == "_lineage":
                layer = "pipeline"
            elif parts[-1] in STAGE_LAYER:
                layer = STAGE_LAYER[parts[-1]]
        out[jid] = layer
    return out


def _union(intervals) -> float:
    """Total length covered by ``(start, end)`` intervals; empty ones
    (end <= start) cover nothing."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        start = max(a, end)
        if b > start:
            total += b - start
            end = b
    return total


def sweep(spans, jobs, w0: float, w1: float) -> tuple[Counter, Counter, float]:
    """Partition the window [w0, w1] among layers.

    At each instant the owner is the layer of the latest-started running
    job, else the innermost open span, else nobody (unattributed). Returns
    (self seconds per layer, driver seconds per layer -- owned time with no
    job running --, unattributed seconds)."""
    pts = {w0, w1}
    for _, a, b in list(spans) + list(jobs):
        pts.update(min(max(x, w0), w1) for x in (a, b))
    cuts = sorted(pts)
    self_s, driver_s, unattributed = Counter(), Counter(), 0.0
    for a, b in zip(cuts, cuts[1:]):
        mid = (a + b) / 2
        running = [j for j in jobs if j[1] <= mid < j[2]]
        if running:
            self_s[max(running, key=lambda j: j[1])[0]] += b - a
            continue
        open_spans = [s for s in spans if s[1] <= mid < s[2]]
        if open_spans:
            layer = max(open_spans, key=lambda s: (s[1], -s[2]))[0]
            self_s[layer] += b - a
            driver_s[layer] += b - a
        else:
            unattributed += b - a
    return self_s, driver_s, unattributed


def layer_metrics(work: SparkWork, spans, w0: float, w1: float,
                  wall_s: float, extra_rows: Counter | None = None) -> dict:
    """Per-layer metrics of one traced operation over the window [w0, w1].

    ``wall_s`` is the operation's wall time on the monotonic clock; the
    reconciliation residual is ``wall_s`` minus the summed self times and
    the unattributed time (from the epoch clock and Spark's timestamps)."""
    layers = job_layers(work)
    jobs = [(layers[j.id], j.start, j.end) for j in work.jobs.values()
            if layers[j.id] is not None and not math.isnan(j.end)]
    self_s, driver_s, unattributed = sweep(spans, jobs, w0, w1)
    out: dict[str, float] = {}
    for layer in LAYERS:
        ids = [j for j, lay in layers.items() if lay == layer]
        tasks = work.task_totals(ids)
        own = [(a, b) for lay, a, b in list(spans) + jobs if lay == layer]
        vals = {
            "wall_s": _union((max(a, w0), min(b, w1)) for a, b in own),
            "self_s": self_s[layer],
            "driver_s": driver_s[layer],
            "jobs": len(ids),
            "rows_out": tasks["rows_out"] + (extra_rows or Counter())[layer],
        }
        for key in GENERIC:
            out[f"{layer}.{key}"] = vals.get(key, tasks[key])
    execs = {}
    for jid, lay in layers.items():
        if work.jobs[jid].execution is not None:
            execs.setdefault(lay, set()).add(work.jobs[jid].execution)
    fj, dd = execs.get("fuzzy_join", set()), execs.get("dedup", set())
    out["fuzzy_join.key_rows"] = work.counter(fj, "generate_rows")
    out["fuzzy_join.join_rows"] = work.counter(fj, "bkey_join_rows")
    out["fuzzy_join.candidate_pairs"] = work.counter(fj, "fuzzy_pairs")
    out["dedup.token_rows"] = work.counter(dd, "generate_rows")
    out["dedup.candidate_pairs"] = work.counter(dd, "dedup_pairs")
    every = {j.execution for j in work.jobs.values() if j.execution is not None}
    out["distance.python_rows"] = work.counter(every, "python_rows")
    out["distance.python_bytes_sent"] = work.counter(every, "python_bytes_sent")
    out["distance.python_bytes_returned"] = work.counter(
        every, "python_bytes_returned")
    out["unattributed_s"] = unattributed
    out["reconcile_residual_s"] = wall_s - sum(self_s.values()) - unattributed
    return out


def reconciles(residual_s: float, wall_s: float) -> bool:
    return abs(residual_s) <= max(RECONCILE_SHARE * wall_s, RECONCILE_FLOOR_S)
