"""Tests of the benchmark's own code: generators, output checks, metric
names, layer attribution and the event-log summary.

    python -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import checks  # noqa: E402
import eventlog  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402


# -- generators ---------------------------------------------------------------

def test_lookup_generator_is_seeded():
    a = gen.lookup_inputs(7, n_terms=500, n_batches=2, batch_size=30)
    assert a == gen.lookup_inputs(7, n_terms=500, n_batches=2, batch_size=30)
    assert a != gen.lookup_inputs(8, n_terms=500, n_batches=2, batch_size=30)
    terms, batches = a
    assert len({t for _, t in terms}) == 500
    assert len({q for b in batches for q, _, _ in b}) == 60


def test_lookup_queries_are_within_two_edits():
    from liblevenshtein_rust_spark.functions.distance import distance_py
    terms, batches = gen.lookup_inputs(3, n_terms=300, n_batches=1, batch_size=100)
    words = dict(terms)
    assert all(distance_py(q, words[src]) <= 2 for _, q, src in batches[0])


def test_dedup_generator_is_seeded():
    a = gen.dedup_inputs(5, n_families=50)
    assert a == gen.dedup_inputs(5, n_families=50)
    assert a != gen.dedup_inputs(6, n_families=50)
    docs, survivors = a
    assert len(docs) == len({d for d, _ in docs}) == sum(survivors.values()) + 50


@pytest.fixture(scope="module")
def spark():
    from liblevenshtein_rust_spark.session import get_spark
    os.environ.setdefault("PYTHONPATH", os.pathsep.join([ROOT, HERE]))
    return get_spark("perfbench-tests", master="local[1]",
                     extra_conf={"spark.ui.enabled": "false",
                                 "spark.driver.memory": "1g"})


def test_linkage_generator_is_seeded(spark):
    def rows(seed):
        turns, truth = gen.linkage_inputs(spark, seed, 60)
        return (sorted(map(tuple, turns.select("conv_id", "turn_idx", "text").collect())),
                sorted(map(tuple, truth.collect())))
    assert rows(4) == rows(4)
    assert rows(4) != rows(5)


# -- output checks --------------------------------------------------------------

_INFO = {"canon": {"resumed": False}, "terms": {"resumed": False}}


def _lookup_case():
    from liblevenshtein_rust_spark.functions.distance import distance_py
    terms = {0: "table", 1: "cable", 2: "fable", 3: "stone"}
    batches = [[(10, "tble", 0), (11, "stone", 3)]]
    rows = [(q, text, t, term, distance_py(text, term))
            for q, text, _ in batches[0] for t, term in terms.items()
            if distance_py(text, term) <= 2]
    return terms, batches, rows


def test_lookup_check_accepts_correct_result():
    terms, batches, rows = _lookup_case()
    assert checks.lookup_verdict([rows], batches, terms) == checks.Verdict(True, 1000)


def test_lookup_check_fails_on_dropped_pair():
    terms, batches, rows = _lookup_case()
    kept = [r for r in rows if (r[0], r[2]) != (10, 0)]
    v = checks.lookup_verdict([kept], batches, terms)
    assert not v.ok and v.quality_milli == 500


def test_lookup_check_fails_on_wrong_distance():
    terms, batches, rows = _lookup_case()
    bad = [r[:4] + (r[4] + 1,) if r[2] == 1 else r for r in rows]
    assert not checks.lookup_verdict([bad], batches, terms).ok


def test_lookup_check_fails_on_duplicate_or_foreign_row():
    terms, batches, rows = _lookup_case()
    assert not checks.lookup_verdict([rows + rows[:1]], batches, terms).ok
    foreign = rows + [(10, "tble", 3, "stone", 4)]
    assert not checks.lookup_verdict([foreign], batches, terms).ok


def test_dedup_check():
    expected = {1: 2, 5: 0, 9: 1}
    assert checks.dedup_verdict(dict(expected), expected, _INFO).ok
    extra = {**expected, 4: 0}
    assert not checks.dedup_verdict(extra, expected, _INFO).ok
    wrong = {**expected, 1: 1}
    assert not checks.dedup_verdict(wrong, expected, _INFO).ok
    missing = {1: 2, 5: 0}
    v = checks.dedup_verdict(missing, expected, _INFO)
    assert not v.ok and v.quality_milli == 666


def test_resumed_stage_fails_the_run():
    expected = {1: 2}
    info = dict(_INFO, terms={"resumed": True})
    v = checks.dedup_verdict(dict(expected), expected, info)
    assert not v.ok and "resumed" in v.reason


def _linkage_case():
    turns = [(("c", 0), "e0", "please run the tests #abcdefgh"),
             (("c", 1), "e0", "please run the tsets #abcdefgh"),
             (("c", 2), "e0", "please run the tests #abcdefgh"),
             (("c", 3), "e1", "open a pull request #qwertyui"),
             (("c", 4), "e1", "open a pull reqest #qwertyui")]
    truth = {k: e for k, e, _ in turns}
    expected = checks.expected_partition(turns)
    labels = {k: min(g) for g in expected for k in g}
    return truth, expected, labels


def test_linkage_check_accepts_planted_clusters():
    truth, expected, labels = _linkage_case()
    assert len(expected) == 2
    f1 = checks.pairwise_f1_milli(checks.partition_of(labels), truth)
    v = checks.linkage_verdict({"f1_milli": f1}, labels, expected, truth, _INFO)
    assert v == checks.Verdict(True, 1000)


def test_linkage_check_fails_on_moved_turn_or_missing_turn():
    truth, expected, labels = _linkage_case()
    moved = {**labels, ("c", 4): ("c", 0)}
    f1 = checks.pairwise_f1_milli(checks.partition_of(moved), truth)
    assert f1 < 1000
    assert not checks.linkage_verdict({"f1_milli": f1}, moved, expected,
                                      truth, _INFO).ok
    missing = {k: v for k, v in labels.items() if k != ("c", 4)}
    assert not checks.linkage_verdict({"f1_milli": 1000}, missing, expected,
                                      truth, _INFO).ok


def test_linkage_check_fails_when_engine_f1_disagrees(spark):
    from liblevenshtein_rust_spark.operators.linkage_eval import pairwise_f1
    truth, expected, labels = _linkage_case()
    dropped = {**labels, ("c", 1): ("c", 1)}   # a dropped pair
    rows = [(k[1], truth[k], str(dropped[k])) for k in truth]
    df = spark.createDataFrame(rows, "turn_idx int, entity string, entity_id string")
    f1_row = pairwise_f1(df, "entity", "entity_id").first()
    assert f1_row["f1_milli"] < 1000
    assert not checks.linkage_verdict(f1_row, labels, expected, truth, _INFO).ok


# -- metric names ---------------------------------------------------------------

def _bench_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_match_benchmark_json():
    spec = _bench_json()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert spec["paths"] == ["perfbench"]


def _sample(traced, wall, layers_=None):
    return run.Sample(traced, wall, [wall], 100, 3.0, 900.0, 2.0, True, 1000,
                      layers=layers_ or {})


def test_printed_metrics_are_the_declared_ones():
    cold = _sample(False, 9.0)
    samples = [_sample(False, 4.0), _sample(True, 4.2, {"fuzzy_join.jobs": 3}),
               _sample(False, 4.4), _sample(True, 4.1, {"fuzzy_join.jobs": 5})]
    e2e = json.loads(run.result_line(True, 5, 0, run.end_to_end(8.0, cold, samples),
                                     run.END_TO_END))
    assert set(e2e) == {"correct", "attempted", "failed", "metrics"}
    assert set(e2e["metrics"]) == {m["name"] for m in _bench_json()["end_to_end"]}
    assert e2e["metrics"]["wall_s"]["value"] == 4.2
    assert e2e["metrics"]["rows_per_s"]["value"] == pytest.approx(
        (100 / 4.0 + 100 / 4.4) / 2)
    pl = run.per_layer({"session.wall_s": 7.0}, cold, samples, 1e6)
    out = json.loads(run.result_line(True, 5, 0, pl, run.PER_LAYER))
    assert set(out["metrics"]) == {m["name"] for m in _bench_json()["per_layer"]}
    assert out["metrics"]["fuzzy_join.jobs"]["value"] == 4
    assert out["metrics"]["tracing_overhead_s"]["value"] == pytest.approx(-0.05)
    assert out["metrics"]["cold_s"]["value"] == 9.0


# -- layer attribution ------------------------------------------------------------

def test_sweep_partitions_the_window():
    spans = [("pipeline", 0.0, 10.0), ("fuzzy_join", 2.0, 3.0)]
    jobs = [("fuzzy_join", 4.0, 6.0), ("pipeline", 5.5, 7.0)]
    self_s, driver_s, un = layers.sweep(spans, jobs, -1.0, 11.0)
    assert sum(self_s.values()) + un == pytest.approx(12.0)
    assert un == pytest.approx(2.0)
    assert self_s["fuzzy_join"] == pytest.approx(1.0 + 1.5)
    assert driver_s["fuzzy_join"] == pytest.approx(1.0)
    assert self_s["pipeline"] == pytest.approx(12.0 - 2.0 - 2.5)


def test_union_ignores_empty_and_overlapping_intervals():
    assert layers._union([(0.0, 2.0), (1.0, 3.0), (5.0, 4.0), (6.0, 6.5)]) == 3.5


def _job_events(job_id, stage, t0, t1, layer=None, execution=None,
                accums=()):
    props = {}
    if layer:
        props[eventlog.LAYER_PROPERTY] = layer
    if execution is not None:
        props["spark.sql.execution.id"] = str(execution)
    return [
        {"Event": "SparkListenerJobStart", "Job ID": job_id,
         "Submission Time": t0, "Stage IDs": [stage], "Properties": props},
        {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
         "Task Info": {"Accumulables": [{"ID": i, "Update": str(v)}
                                        for i, v in accums]},
         "Task Metrics": {"Executor Run Time": 1500, "Executor CPU Time": 10**9,
                          "JVM GC Time": 0, "Disk Bytes Spilled": 0,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 2**20},
                          "Output Metrics": {"Records Written": 12}}},
        {"Event": "SparkListenerJobEnd", "Job ID": job_id, "Completion Time": t1},
    ]


def test_checkpoint_write_is_attributed_to_the_stage_layer():
    plan = {"nodeName": "Execute InsertIntoHadoopFsRelationCommand",
            "simpleString": "Execute InsertIntoHadoopFsRelationCommand "
                            "file:/w/ck/r1/scored_pairs, false, Parquet",
            "metrics": [], "children": [
                {"nodeName": "Generate", "simpleString": "Generate explode(x)",
                 "metrics": [{"name": "number of output rows",
                              "accumulatorId": 7}], "children": []}]}
    events = [{"Event": "org.apache.spark.sql.execution.ui."
                        "SparkListenerSQLExecutionStart",
               "executionId": 3, "sparkPlanInfo": plan}]
    events += _job_events(1, 10, 1000, 3000, layer="pipeline", execution=3,
                          accums=[(7, 40)])
    events += _job_events(2, 11, 3000, 4000, layer="pipeline")
    work = eventlog.summarize(events)
    assert layers.job_layers(work) == {1: "fuzzy_join", 2: "pipeline"}
    m = layers.layer_metrics(work, [("pipeline", 0.5, 4.5)], 0.0, 5.0, 5.0)
    assert m["fuzzy_join.jobs"] == 1 and m["pipeline.jobs"] == 1
    assert m["fuzzy_join.self_s"] == pytest.approx(2.0)
    assert m["fuzzy_join.task_s"] == pytest.approx(1.5)
    assert m["fuzzy_join.shuffle_write_mb"] == pytest.approx(1.0)
    assert m["fuzzy_join.key_rows"] == 40
    assert m["pipeline.rows_out"] == 12
    assert m["unattributed_s"] == pytest.approx(1.0)
    assert layers.reconciles(m["reconcile_residual_s"], 5.0)


# -- the run as a whole -------------------------------------------------------

def test_fails_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "dedup",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
