"""Candidate generation for every blocked join, written once.

Every blocked operator in the engine (the fuzzy joins, incremental
linkage, MinHash / SimHash / cosine LSH near-dup) has the same shape:

    explode blocking keys  ->  equi-join on _bkey  ->  distinct (_ida, _idb)
      ->  attach each side's payload as (_ta, _tb)  ->  caller's verify

The operators differ only in the key expression and the verifier; the
physical decisions in between live here:

- Self-joins pre-partition the key table on ``_bkey`` below the per-side
  aliases, so both sides require exactly that exchange and AQE stage
  reuse computes the key pipeline (and any signature UDF under it) ONCE —
  one ``Exchange hashpartitioning(_bkey)`` plus one ``ReusedExchange``
  (profiled: two concurrent 1.9 s / 1.7 s MinHash signature stages at
  sf0.1 collapsed to one).
- Self-join pairs are id-ordered (``_ida < _idb``), and every path ends in
  one pair-level dropDuplicates — the reference's SymmetricPair memo key,
  distributed.
- Hot keys can be salted (``salt_threshold``): the triangular group
  decomposition below makes the mitigation deterministic and independent
  of runtime statistics, where AQE's skew-join splitting is not.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def explode_keys(df: DataFrame, id_col: str, keys_sql: str) -> DataFrame:
    """Key table ``(_bid, _bkey)``: one row per element of the array-valued
    SQL expression ``keys_sql`` evaluated over ``df``.

    The whole key pipeline is ONE parsed expression: building it from
    Column ops cost ~0.5 s of py4j driver time per pair query."""
    return df.selectExpr(f"`{id_col}` AS _bid", f"explode({keys_sql}) AS _bkey")


def _join(left: DataFrame, right: DataFrame) -> DataFrame:
    l = left.selectExpr("_bid AS _ida", "_bkey").alias("lk")
    r = right.selectExpr("_bid AS _idb", "_bkey").alias("rk")
    return l.join(r, F.col("lk._bkey") == F.col("rk._bkey"), "inner") \
        .selectExpr("lk._ida AS _ida", "rk._idb AS _idb")


def _self_join(keys: DataFrame) -> DataFrame:
    keys = keys.repartition("_bkey")
    return _join(keys, keys).where("_ida < _idb")


def _salted_hot_join(hot: DataFrame, n_groups: int) -> DataFrame:
    """Self-join of hot keys spread over G*(G+1)/2 reducer keys.

    Members get group g = pmod(xxhash64(id), G); for every group pair
    (i, j), i <= j, the left side re-emits members of group i under tag
    (key, i, j) and the right side members of group j under the same tag.
    The equi-join on (key, i, j) then produces exactly the pair set of the
    plain join on key."""
    G = n_groups
    hot = hot.withColumn(
        "_grp", F.pmod(F.xxhash64("_bid"), F.lit(G)).cast("int"))
    left = hot.select(
        F.col("_bid").alias("_ida"), "_bkey",
        F.col("_grp").alias("_gi"),
        F.explode(F.expr(f"sequence(_grp, {G - 1})")).alias("_gj"),
    )
    right = hot.select(
        F.col("_bid").alias("_idb"), "_bkey",
        F.explode(F.expr("sequence(0, _grp)")).alias("_gi"),
        F.col("_grp").alias("_gj"),
    )
    return (
        left.alias("hl").join(
            right.alias("hr"),
            (F.col("hl._bkey") == F.col("hr._bkey"))
            & (F.col("hl._gi") == F.col("hr._gi"))
            & (F.col("hl._gj") == F.col("hr._gj")),
        )
        # a pair is emitted in only ONE group orientation, which need not
        # agree with id order — canonicalize instead of filtering
        .select(F.least("hl._ida", "hr._idb").alias("_ida"),
                F.greatest("hl._ida", "hr._idb").alias("_idb"))
        .where(F.col("_ida") != F.col("_idb"))
    )


def candidate_pairs(keys: DataFrame, other: DataFrame | None = None, *,
                    salt_threshold: int | None = None,
                    salt_groups: int = 8) -> DataFrame:
    """Distinct candidate id pairs ``(_ida, _idb)`` from key tables.

    ``other=None`` is the self-join of ``keys`` (``_ida < _idb``);
    otherwise ``keys`` is the probe side (``_ida``) and ``other`` the index
    side (``_idb``), with no id-order filter. For the self-join, keys with
    more than ``salt_threshold`` members take the salted triangular path
    (``salt_groups`` groups) and the rest the plain self-join; pairs found
    by both routes collapse in the final dropDuplicates."""
    if other is not None:
        pairs = _join(keys, other)
    elif salt_threshold is None:
        pairs = _self_join(keys)
    else:
        counts = keys.groupBy("_bkey").agg(F.count(F.lit(1)).alias("_n"))
        hot_keys = F.broadcast(
            counts.where(F.col("_n") > salt_threshold).select("_bkey"))
        pairs = _self_join(keys.join(hot_keys, "_bkey", "left_anti")) \
            .unionByName(_salted_hot_join(
                keys.join(hot_keys, "_bkey", "left_semi"), salt_groups))
    return pairs.dropDuplicates(["_ida", "_idb"])


def attach(pairs: DataFrame, left: DataFrame, right: DataFrame,
           l_id: str, l_val: str, r_id: str, r_val: str,
           dedupe: bool = True) -> DataFrame:
    """Join ``(_ida, _idb)`` pairs back to each side's payload column as
    ``(_ta, _tb)``.

    ``dedupe=False`` skips the defensive one-row-per-id collapse when the
    caller PROVES id uniqueness (the collapse is a first() aggregate,
    which plans a SortAggregate + Sort + Exchange per side — pure overhead
    for inputs whose ids are unique by construction)."""
    lt = left.selectExpr(f"`{l_id}` AS _ida", f"`{l_val}` AS _ta")
    rt = right.selectExpr(f"`{r_id}` AS _idb", f"`{r_val}` AS _tb")
    if dedupe:
        lt = lt.dropDuplicates(["_ida"])
        rt = rt.dropDuplicates(["_idb"])
    return pairs.join(lt, "_ida").join(rt, "_idb")
