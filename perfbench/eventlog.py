"""Spark's own job, stage, task and SQL-operator metrics, read from the
application's event log while the application runs.

The session writes an uncompressed, non-rolling event log. After each
measured operation the benchmark waits for Spark's listener bus to drain
(so every event of the operation has been written and flushed) and reads
the lines appended since the previous read.
"""

from __future__ import annotations

import json
import os
import re
from collections import Counter
from dataclasses import dataclass, field

LAYER_PROPERTY = "perfbench.layer"

_WRITE = re.compile(r"InsertIntoHadoopFsRelationCommand (\S+?),")
_JOINS = ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
          "BroadcastNestedLoopJoin", "CartesianProduct")
_FUZZY_PAIR_AGG = re.compile(r"^HashAggregate\(keys=\[_ida#\w+, _idb#\w+\]")
_DEDUP_PAIR_AGG = re.compile(r"^HashAggregate\(keys=\[id_a#\w+, id_b#\w+\]")
_ROWS = "number of output rows"

#: task metrics summed per stage: name in the event -> (key, scale)
_TASK = {
    "Executor Run Time": ("task_s", 1e-3),
    "Executor CPU Time": ("cpu_s", 1e-9),
    "JVM GC Time": ("gc_s", 1e-3),
    "Disk Bytes Spilled": ("spill_mb", 2**-20),
}


class EventLog:
    """Follows the event log of the session's current application."""

    def __init__(self, spark, log_dir: str):
        self._sc = spark.sparkContext
        self._path = os.path.join(log_dir, self._sc.applicationId + ".inprogress")
        self._pos = 0

    def drain(self) -> list[dict]:
        """Every event logged since the previous call."""
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        with open(self._path, "rb") as f:
            f.seek(self._pos)
            data = f.read()
        end = data.rfind(b"\n") + 1
        self._pos += end
        return [json.loads(line) for line in data[:end].splitlines() if line]


@dataclass
class Job:
    id: int
    start: float
    end: float
    layer: str | None
    execution: int | None


@dataclass
class Execution:
    write_path: str | None = None
    #: operator counter name -> accumulator ids feeding it
    accums: dict[str, set[int]] = field(default_factory=dict)


@dataclass
class SparkWork:
    """Spark's record of the jobs run inside one measured window."""
    jobs: dict[int, Job] = field(default_factory=dict)
    stage_job: dict[int, int] = field(default_factory=dict)
    stage_tasks: dict[int, Counter] = field(default_factory=dict)
    executions: dict[int, Execution] = field(default_factory=dict)
    accum: Counter = field(default_factory=Counter)

    def task_totals(self, job_ids) -> Counter:
        out: Counter = Counter()
        wanted = set(job_ids)
        for sid, c in self.stage_tasks.items():
            if self.stage_job.get(sid) in wanted:
                out.update(c)
        return out

    def counter(self, exec_ids, name: str) -> int:
        ids: set[int] = set()
        for x in exec_ids:
            ids |= self.executions.get(x, Execution()).accums.get(name, set())
        return sum(self.accum[i] for i in ids)


def _classify(node: dict, ex: Execution) -> dict[str, bool]:
    """Record the accumulators of the operators whose counts the layer
    metrics use. Returns, per pair-aggregate kind, whether the subtree
    holds one: an aggregate with one of its own kind below it is the final
    aggregate of a partial/final pair."""
    name, text = node["nodeName"], node["simpleString"]
    metrics = {m["name"]: m["accumulatorId"] for m in node.get("metrics", [])}

    def add(key: str, metric: str) -> None:
        if metric in metrics:
            ex.accums.setdefault(key, set()).add(metrics[metric])

    below = {}
    for child in node.get("children", []):
        for k, v in _classify(child, ex).items():
            below[k] = below.get(k, False) or v
    m = _WRITE.search(text)
    if m and ex.write_path is None:
        ex.write_path = m.group(1)
    if name == "Generate":
        add("generate_rows", _ROWS)
    elif name in _JOINS and "_bkey" in text:
        add("bkey_join_rows", _ROWS)
    elif name == "ArrowEvalPython":
        add("python_rows", _ROWS)
        add("python_bytes_sent", "data sent to Python workers")
        add("python_bytes_returned", "data returned from Python workers")
    found = dict(below)
    for key, pattern in (("fuzzy_pairs", _FUZZY_PAIR_AGG),
                         ("dedup_pairs", _DEDUP_PAIR_AGG)):
        if pattern.match(text):
            if below.get(key):   # the final aggregate of a partial/final pair
                add(key, _ROWS)
            found[key] = True
    return found


def summarize(events: list[dict]) -> SparkWork:
    w = SparkWork()
    for ev in events:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            ex = props.get("spark.sql.execution.id")
            w.jobs[ev["Job ID"]] = Job(
                ev["Job ID"], ev["Submission Time"] / 1000, float("nan"),
                props.get(LAYER_PROPERTY),
                int(ex) if ex is not None else None)
            for sid in ev.get("Stage IDs", []):
                w.stage_job.setdefault(sid, ev["Job ID"])
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in w.jobs:
                w.jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            c = w.stage_tasks.setdefault(ev["Stage ID"], Counter())
            for src, (key, scale) in _TASK.items():
                c[key] += (m.get(src) or 0) * scale
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            out = m.get("Output Metrics") or {}
            c["shuffle_write_mb"] += (sw.get("Shuffle Bytes Written") or 0) * 2**-20
            c["shuffle_read_mb"] += ((sr.get("Remote Bytes Read") or 0)
                                     + (sr.get("Local Bytes Read") or 0)) * 2**-20
            c["rows_out"] += out.get("Records Written") or 0
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                upd = acc.get("Update")
                if isinstance(upd, (int, str)) and str(upd).lstrip("-").isdigit():
                    w.accum[acc["ID"]] += int(upd)
        elif kind.endswith("SQLExecutionStart") or kind.endswith(
                "SQLAdaptiveExecutionUpdate"):
            ex = w.executions.setdefault(ev["executionId"], Execution())
            _classify(ev["sparkPlanInfo"], ex)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc_id, value in ev.get("accumUpdates", []):
                w.accum[acc_id] += value
    return w
