"""The three workloads: inputs written at set-up, one timed operation, and
the check of its output.

A workload object lives for one Spark session. ``write_inputs`` generates
the seeded inputs and writes them as parquet, so the engine only ever
receives files; ``run`` is one timed operation; ``check`` verifies its
output and returns the counts the traced run reports.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time
import uuid
from collections import Counter
from contextlib import nullcontext
from dataclasses import dataclass, field

import checks
import gen


@dataclass
class Outcome:
    """One timed operation: its wall time, per-batch latencies, the rows
    of input it processed and whatever ``check`` needs."""
    wall_s: float
    batches: list[float]
    rows_in: int
    window: tuple[float, float]
    output: dict = field(default_factory=dict)
    #: rows handed to the driver per layer (lookup collects its matches)
    collected: Counter = field(default_factory=Counter)


class _Pipeline:
    """Shared shape of the two checkpointed pipeline workloads."""

    def __init__(self, seed: int, work_dir: str):
        self.seed = seed
        self.inputs = os.path.join(work_dir, "inputs")
        self.ckpt = os.path.join(work_dir, "checkpoints")

    def _call(self, spark, df, ckpt: str, run_id: str) -> dict:
        raise NotImplementedError

    def run(self, spark, tracer=None) -> Outcome:
        run_id = "r" + uuid.uuid4().hex[:12]
        run_dir = os.path.join(self.ckpt, run_id)
        spark.catalog.clearCache()
        w0 = time.time()
        t0 = time.perf_counter()
        df = spark.read.parquet(os.path.join(self.inputs, self.input_name))
        if tracer is None:
            res = self._call(spark, df, self.ckpt, run_id)
        else:
            with tracer.span("pipeline"):
                res = self._call(spark, df, self.ckpt, run_id)
        wall = time.perf_counter() - t0
        w1 = time.time()
        return Outcome(wall, [wall], self.rows, (w0, w1),
                       {"run_dir": run_dir, "info": res["info"]})

    def cleanup(self, out: Outcome) -> None:
        shutil.rmtree(out.output["run_dir"], ignore_errors=True)


class Linkage(_Pipeline):
    """Seeded transcripts through ``plans.pipeline.run_pipeline`` (n=2,
    transposition), checked with ``operators.linkage_eval.pairwise_f1``."""

    name = "linkage"
    input_name = "turns.parquet"

    def write_inputs(self, spark) -> None:
        n = gen.LINKAGE_TURNS
        turns, truth = gen.linkage_inputs(spark, self.seed, n)
        turns.write.parquet(os.path.join(self.inputs, self.input_name))
        truth.write.parquet(os.path.join(self.inputs, "truth.parquet"))
        texts = {(r[0], r[1]): r[2] for r in turns.select(
            "conv_id", "turn_idx", "text").collect()}
        self.truth = {(r[0], r[1]): r[2] for r in truth.select(
            "conv_id", "turn_idx", "entity_id").collect()}
        self.expected = checks.expected_partition(
            [(k, self.truth[k], t) for k, t in texts.items()])
        self.terms = sorted({checks.canon(t) for t in texts.values()})
        self.rows = n

    def _call(self, spark, df, ckpt, run_id):
        from liblevenshtein_rust_spark.plans.pipeline import (
            PipelineConfig, run_pipeline)
        return run_pipeline(spark, df, PipelineConfig(
            checkpoint_dir=ckpt, run_id=run_id, n=2,
            variant="transposition"))

    def check(self, spark, out: Outcome, traced: bool = False):
        from liblevenshtein_rust_spark.operators.linkage_eval import pairwise_f1
        from pyspark.sql import functions as F
        run_dir = out.output["run_dir"]
        pred = spark.read.parquet(os.path.join(run_dir, "turn_entities"))
        truth = spark.read.parquet(os.path.join(self.inputs, "truth.parquet"))
        labeled = truth.select("conv_id", "turn_idx",
                               F.col("entity_id").alias("entity")).join(
            pred, ["conv_id", "turn_idx"], "left")
        f1_row = pairwise_f1(labeled, "entity", "entity_id").first()
        labels = {(r[0], r[1]): r[2] for r in pred.select(
            "conv_id", "turn_idx", "entity_id").collect()}
        verdict = checks.linkage_verdict(f1_row, labels, self.expected,
                                         self.truth, out.output["info"])
        counts = {}
        if traced:
            pairs = spark.read.parquet(os.path.join(run_dir, "scored_pairs"))
            clusters = spark.read.parquet(os.path.join(run_dir, "clusters"))
            sizes = clusters.groupBy("entity_id").count().agg(
                F.count(F.lit(1)).alias("c"), F.max("count").alias("m")).first()
            n_pairs = pairs.count()
            counts = {"fuzzy_join.verified_pairs": n_pairs,
                      "cluster.edges": n_pairs,
                      "cluster.components": sizes["c"],
                      "cluster.largest_component": sizes["m"]}
        return verdict, counts


    def kernel_pairs_per_s(self, max_pairs: int = 20_000) -> float:
        """Throughput of ``functions.distance.batch_distance`` alone, on
        pairs of this corpus's distinct terms that share an utterance
        template and pass the length filter -- the pairs that dominate the
        self-join's candidates. Median of three calls."""
        import pandas as pd
        from liblevenshtein_rust_spark.functions.distance import batch_distance
        by_template: dict = {}
        for t in self.terms:
            by_template.setdefault(t.split(" #")[0], []).append(t)
        pairs = [(a, b) for group in by_template.values()
                 for i, a in enumerate(group) for b in group[i + 1:]
                 if abs(len(a) - len(b)) <= 2]
        pairs = random.Random(self.seed).sample(pairs, min(len(pairs), max_pairs))
        a = pd.Series([p[0] for p in pairs])
        b = pd.Series([p[1] for p in pairs])
        times = []
        for _ in range(3):
            t0 = time.perf_counter()
            batch_distance(a, b, 2, "transposition")
            times.append(time.perf_counter() - t0)
        return len(pairs) / statistics.median(times)


class Dedup(_Pipeline):
    """A planted near-duplicate corpus through
    ``plans.pipeline.run_dedup_pipeline`` (jaccard, hashed tokens),
    checked against the planted families."""

    name = "dedup"
    input_name = "docs.parquet"

    def write_inputs(self, spark) -> None:
        docs, self.expected = gen.dedup_inputs(self.seed)
        spark.createDataFrame(docs, "doc_id long, text string").write.parquet(
            os.path.join(self.inputs, self.input_name))
        self.rows = len(docs)

    def _call(self, spark, df, ckpt, run_id):
        from liblevenshtein_rust_spark.plans.pipeline import (
            DedupConfig, run_dedup_pipeline)
        return run_dedup_pipeline(spark, df, DedupConfig(
            checkpoint_dir=ckpt, run_id=run_id, method="jaccard",
            hash_tokens=True))

    def check(self, spark, out: Outcome, traced: bool = False):
        surv = spark.read.parquet(os.path.join(out.output["run_dir"],
                                               "dedup_survivors"))
        got = {r["doc_id"]: r["n_removed"]
               for r in surv.select("doc_id", "n_removed").collect()}
        verdict = checks.dedup_verdict(got, self.expected, out.output["info"])
        counts = {}
        if traced:
            pairs = spark.read.parquet(os.path.join(out.output["run_dir"],
                                                    "dedup_pairs"))
            n_pairs = pairs.count()
            counts = {"dedup.verified_pairs": n_pairs,
                      "cluster.edges": n_pairs,
                      "cluster.components": len(got),
                      "cluster.largest_component": 1 + max(got.values())}
        return verdict, counts


class Lookup:
    """Batches of planted queries against a pseudo-word dictionary through
    ``operators.fuzzy_join.fuzzy_join`` (n=2, standard), one client in a
    closed loop; every batch's matches are collected to the driver."""

    name = "lookup"

    def __init__(self, seed: int, work_dir: str):
        self.seed = seed
        self.inputs = os.path.join(work_dir, "inputs")

    def write_inputs(self, spark) -> None:
        terms, batches = gen.lookup_inputs(self.seed)
        spark.createDataFrame(terms, "term_id long, term string").write.parquet(
            os.path.join(self.inputs, "dictionary.parquet"))
        for i, batch in enumerate(batches):
            spark.createDataFrame(
                [(q, t) for q, t, _ in batch], "q_id long, q_text string"
            ).write.parquet(os.path.join(self.inputs, f"queries_{i}.parquet"))
        self.batches = batches
        self.rows = sum(len(b) for b in batches)
        # the dictionary is loaded once per session and reused by every batch
        self.dictionary = spark.read.parquet(
            os.path.join(self.inputs, "dictionary.parquet"))
        self.terms = dict(terms)

    def run(self, spark, tracer=None) -> Outcome:
        from liblevenshtein_rust_spark.operators.fuzzy_join import fuzzy_join
        spark.catalog.clearCache()
        lat, results = [], []
        w0 = time.time()
        t0 = time.perf_counter()
        for i in range(len(self.batches)):
            tb = time.perf_counter()
            q = spark.read.parquet(os.path.join(self.inputs, f"queries_{i}.parquet"))
            with tracer.span("fuzzy_join") if tracer else nullcontext():
                rows = fuzzy_join(q, self.dictionary, n=2, variant="standard",
                                  q_id="q_id", q_text="q_text",
                                  d_id="term_id", d_text="term").collect()
            lat.append(time.perf_counter() - tb)
            results.append([(r["q_id"], r["q_text"], r["term_id"], r["term"],
                             r["distance"]) for r in rows])
        wall = time.perf_counter() - t0
        w1 = time.time()
        return Outcome(wall, lat, self.rows, (w0, w1), {"results": results},
                       Counter({"fuzzy_join": sum(map(len, results))}))

    def check(self, spark, out: Outcome, traced: bool = False):
        verdict = checks.lookup_verdict(out.output["results"], self.batches,
                                         self.terms)
        counts = {}
        if traced:
            counts = {"fuzzy_join.verified_pairs":
                      sum(map(len, out.output["results"]))}
        return verdict, counts

    def cleanup(self, out: Outcome) -> None:
        pass


WORKLOADS = {w.name: w for w in (Linkage, Dedup, Lookup)}
