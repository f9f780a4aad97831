"""Skew diagnostics and input-parallelism helpers for blocked joins.

Hot blocking keys (ultra-common short turns, empty segments) put one
block's entire m^2 candidate space into a single reducer.
:func:`block_size_stats` reports that distribution; the deterministic
salted mitigation lives with the rest of candidate generation in
``operators/candidates.candidate_pairs(salt_threshold=...)``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def block_size_stats(keys: DataFrame, key_col: str = "_bkey") -> DataFrame:
    """Block-size distribution: (n_blocks, max_block, p99ish top sizes) —
    the lineage/metrics hook for 'no silent truncation' logging."""
    counts = keys.groupBy(key_col).agg(F.count(F.lit(1)).alias("n"))
    return counts.agg(
        F.count(F.lit(1)).alias("n_blocks"),
        F.max("n").alias("max_block"),
        F.sum(F.when(F.col("n") > 1, F.col("n") * (F.col("n") - 1) / 2)
              .otherwise(0)).cast("long").alias("candidate_pairs_upper"),
    )


def spread_input(df: DataFrame) -> DataFrame:
    """Input-parallelism floor for fan-out operators (guide-§2.5 input
    skew: "one huge unsplittable file ... repartition immediately after
    the read").

    The signature/index builders in this engine amplify each input row
    ~100-300x (substring position explode, shingle explode x num_hashes,
    token explode) before any shuffle, so their compute parallelism is
    pinned to the SCAN's split count — and a small or unsplittable input
    (single parquet row group, gzip) runs the whole fan-out on a handful
    of cores (profiled r6: the sf0.1 substring index build was a 3.2 s
    4-task stage; MinHash signatures a 1.9 s single-task stage — on a
    32-core master).

    When the input already carries >= defaultParallelism partitions this
    is a NO-OP (no shuffle is added at deployment scale, where scans are
    split-rich); otherwise it round-robins the (narrow, pre-explode) rows
    across defaultParallelism partitions — the shuffle moves the input
    rows once, orders of magnitude less than the fan-out it parallelizes.
    Row-level operators only: never changes results, only layout."""
    sc = df.sparkSession.sparkContext
    p = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= p:
        return df
    return df.repartition(p)
