"""Blocked fuzzy (edit-distance) joins — the engine's central operator.

Re-expresses the reference's automaton-intersection query
(``Transducer::query(term, n)``, /root/reference/src/transducer/mod.rs:360-369
— semantically a similarity join with predicate d(a,b) <= n) as:

    explode blocking keys  ->  equi-join on key hash  ->  dedupe pairs
      ->  attach texts  ->  vectorized banded-DP verify  ->  filter d <= n

(the candidate half of that shape is ``operators/candidates.py``, shared
with every other blocked join).

Never a cartesian product: blocking keys prune exactly like the automaton
prunes dictionary subtrees. Scale notes:

- Keys are xxhash64-hashed: the key-explode shuffle carries (id, int64)
  pairs, never text, regardless of turn length.
- Candidate pairs are (id_a, id_b) only; texts are attached by joining the
  (much smaller, distinct-term) dictionary back in. Dictionary distinctness
  also kills the classic transcript skew source — a million "ok" turns are
  ONE dictionary term.
- AQE skew-join splitting + runtime bloom filters are enabled by the
  session factory; blocking joins are plain shuffled equi-joins that AQE
  can re-plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from liblevenshtein_rust_spark.functions.blocking_keys import (
    deletion_keys_sql,
    effective_depth,
    hash_keys_sql,
    probe_keys_sql,
    segment_keys_sql,
)
from liblevenshtein_rust_spark.functions.canonicalize import canon_text, term_id
from liblevenshtein_rust_spark.functions.distance import (
    STANDARD,
    TRANSPOSITION,
    make_distance_udf,
    make_prefix_distance_udf,
)
from liblevenshtein_rust_spark.operators.candidates import (
    attach,
    candidate_pairs,
    explode_keys,
)

#: strings at or below this length use deletion-neighborhood blocking
#: (narrower fan-out); longer strings use PassJoin segment blocking.
SHORT_MAX = 24


def build_dictionary(df: DataFrame, text_col: str = "text",
                     canonicalize: bool = True) -> DataFrame:
    """Distinct-term dictionary: (term_id, term, freq).

    The Spark analog of ``DoubleArrayTrie::from_terms``
    (/root/reference/src/dictionary/double_array_trie.rs:807): the
    "dictionary" is a DataFrame of distinct canonical texts; freq is the
    MappedDictionary-style value column.
    """
    c = canon_text(text_col) if canonicalize else F.col(text_col)
    return (
        df.select(c.alias("term"))
        .where(F.col("term").isNotNull())
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(term_id("term").alias("term_id"), "term", "freq")
    )


def union_replace(base: DataFrame, other: DataFrame,
                  key: str = "term") -> DataFrame:
    """Dictionary union with REPLACE semantics: every row of ``other``
    plus the rows of ``base`` whose key is absent from ``other`` — the
    other side's value wins outright on conflict, no merge function.

    The replace-semantics sibling of union_with
    (/root/reference/src/dictionary/mod.rs:443-461; union_with's Spark
    mapping is unionByName + groupBy(key).agg(merge), SURVEY §2.6).
    Inputs are term-keyed dictionaries (distinct key per side — the
    Dictionary contract); one anti-join on the key, broadcastable when
    ``other`` is a small delta, AQE re-plans it at runtime.
    """
    return base.join(other.select(key), key, "left_anti").unionByName(other)


def _seg_k(n: int, variant: str) -> int:
    # one straddling swap / merge / split can damage two adjacent segments,
    # so non-standard variants need the standard-distance bound 2n
    return n if variant == STANDARD else 2 * n


def _score_pairs(pairs: DataFrame, left: DataFrame, right: DataFrame,
                 l_id: str, l_text: str, r_id: str, r_text: str,
                 n: int, variant: str, subst=None,
                 dedupe_texts: bool = True) -> DataFrame:
    with_text = attach(pairs, left, right, l_id, l_text, r_id, r_text,
                       dedupe=dedupe_texts)
    # cheap JVM-side prefilter before the (Arrow) scoring kernel: every
    # variant changes length by at most 1 per edit
    with_text = with_text.where(f"abs(length(_ta) - length(_tb)) <= {int(n)}")
    if variant == STANDARD and subst is None:
        # Spark's built-in levenshtein is codepoint-level with an
        # early-abort threshold (returns -1 above it) — semantically
        # identical to the reference's standard_distance, and it keeps the
        # entire verify stage inside whole-stage codegen (no Arrow hop).
        # Verified against the DP oracle in tests/test_distance.py.
        scored = with_text.selectExpr(
            "*", f"levenshtein(_ta, _tb, {int(n)}) AS distance")
        return scored.where("distance >= 0")
    dist = make_distance_udf(n, variant,
                             subst.codepoint_pairs() if subst else None)
    scored = with_text.withColumn("distance", dist(F.col("_ta"), F.col("_tb")))
    return scored.where(F.col("distance") <= n)


def _keys_for(df: DataFrame, id_col: str, text_col: str, n: int, variant: str,
              method: str, role: str, subst=None) -> DataFrame:
    """Hashed blocking-key table (_bid, _bkey) for ``method``.
    role: 'index' | 'probe' | 'both' (self-join emits both sides).

    With a SubstitutionSet, keys are generated over class-canonicalized
    text (zero-cost-substitutable chars mapped to one representative) —
    a recall-safe superset; exact semantics are restored by the pair-set
    DP in scoring."""
    if subst is not None:
        src, dst = subst.translate_args()
        if src:
            df = df.withColumn(text_col, F.translate(F.col(text_col), src, dst))
    depth = effective_depth(n, variant)
    k = _seg_k(n, variant)
    short = f"length(`{text_col}`) <= {SHORT_MAX}"

    def seg_sql() -> str:
        if role == "index":
            return segment_keys_sql(text_col, k)
        if role == "probe":
            return probe_keys_sql(text_col, k, len_tol=n)
        return (f"concat({segment_keys_sql(text_col, k)}, "
                f"{probe_keys_sql(text_col, k, len_tol=n)})")

    def keys(frame: DataFrame, keys_sql: str) -> DataFrame:
        return explode_keys(frame, id_col, hash_keys_sql(keys_sql))

    if method == "deletion":
        return keys(df, deletion_keys_sql(text_col, depth))
    if method == "segment":
        return keys(df, seg_sql())
    if method == "hybrid":
        # short strings: deletion keys (cheap, exact); long strings: segment
        # keys. Pairs straddling the boundary are covered because BOTH
        # routes are generated for strings within n of SHORT_MAX.
        near = (f"(length(`{text_col}`) >= {SHORT_MAX - n} AND "
                f"length(`{text_col}`) <= {SHORT_MAX + n})")
        del_side = keys(df.where(f"({short}) OR {near}"),
                        deletion_keys_sql(text_col, depth))
        seg_side = keys(df.where(f"(NOT ({short})) OR {near}"), seg_sql())
        return del_side.unionByName(seg_side)
    raise ValueError(f"unknown blocking method {method!r}")


def _resolve_method(method: str) -> str:
    """``auto`` resolves statically to ``hybrid``: hybrid routes each ROW by
    its own length (deletion keys for short strings, segments for long), so
    no dataset statistic — and therefore no eager pre-join scan of the
    input, which at 100 TB would be a full pass per operator call — is
    needed to pick a strategy."""
    return "hybrid" if method == "auto" else method


def fuzzy_join(
    queries: DataFrame,
    dictionary: DataFrame,
    *,
    n: int,
    variant: str = STANDARD,
    method: str = "auto",
    q_id: str = "q_id",
    q_text: str = "q_text",
    d_id: str = "term_id",
    d_text: str = "term",
    substitutions=None,
    persist: bool = False,
) -> DataFrame:
    """Similarity join: all (query, term) pairs with distance(q, t) <= n.

    Output columns: q_id, q_text, term_id, term, distance — one row per
    matching pair, exact and complete (the blocked join is recall-lossless;
    the banded DP is the exact distance). ``substitutions`` is an optional
    SubstitutionSet of zero-cost character pairs (Restricted policy).

    ``persist`` caches both inputs (MEMORY_AND_DISK): each side is read
    twice (key explode + text attach), and without a cache or an upstream
    checkpoint Spark would re-run their whole lineage per read. Release
    via ``operators.dedup.unpersist_inputs(result)`` after materializing.
    """
    if persist:
        queries = queries.persist()
        dictionary = dictionary.persist()
    method = _resolve_method(method)
    qk = _keys_for(queries, q_id, q_text, n, variant, method, role="probe",
                   subst=substitutions)
    dk = _keys_for(dictionary, d_id, d_text, n, variant, method, role="index",
                   subst=substitutions)
    scored = _score_pairs(candidate_pairs(qk, dk), queries, dictionary,
                          q_id, q_text, d_id, d_text, n, variant,
                          subst=substitutions)
    out = scored.selectExpr(
        f"_ida AS `{q_id}`", f"_ta AS `{q_text}`",
        f"_idb AS `{d_id}`", f"_tb AS `{d_text}`", "distance")
    if persist:
        out._lls_persisted_inputs = [queries, dictionary]
    return out


def fuzzy_self_join(
    terms: DataFrame,
    *,
    n: int,
    variant: str = STANDARD,
    method: str = "auto",
    id_col: str = "term_id",
    text_col: str = "term",
    substitutions=None,
    salt_threshold: int | None = None,
    salt_groups: int = 8,
    persist: bool = False,
    unique_ids: bool = False,
) -> DataFrame:
    """All unordered distinct-term pairs with distance <= n (id_a < id_b).

    Output: id_a, term_a, id_b, term_b, distance. ``salt_threshold``
    routes blocking keys with more members than the threshold through the
    deterministic triangular salting path (operators/candidates.py) instead
    of a single reducer key.

    ``unique_ids=True`` declares that ``terms`` carries one row per
    ``id_col`` (the dictionary contract, e.g. a ``build_dictionary``
    output): the text attach then skips its defensive per-id collapse —
    two fewer Exchange + SortAggregate rounds per invocation (r6).
    Results are identical whenever the declaration is true.

    ``persist`` caches the terms input AND the exploded key table: the
    plan reads terms three times (key explode + two text attaches), and
    without the cache any upstream lineage (e.g. a build_dictionary
    aggregation) re-runs per read. Release via
    ``operators.dedup.unpersist_inputs(result)`` after materializing.
    """
    persisted = []
    if persist:
        terms = terms.persist()
        persisted.append(terms)
    method = _resolve_method(method)
    keys = _keys_for(terms, id_col, text_col, n, variant, method, role="both",
                     subst=substitutions)
    if persist:
        keys = keys.persist()
        persisted.append(keys)
    pairs = candidate_pairs(keys, salt_threshold=salt_threshold,
                            salt_groups=salt_groups)
    scored = _score_pairs(pairs, terms, terms, id_col, text_col, id_col, text_col,
                          n, variant, subst=substitutions,
                          dedupe_texts=not unique_ids)
    out = scored.selectExpr(
        "_ida AS id_a", "_ta AS term_a", "_idb AS id_b", "_tb AS term_b",
        "distance")
    if persisted:
        out._lls_persisted_inputs = persisted
    return out


def fuzzy_prefix_join(
    queries: DataFrame,
    dictionary: DataFrame,
    *,
    n: int,
    variant: str = STANDARD,
    q_id: str = "q_id",
    q_text: str = "q_text",
    d_id: str = "term_id",
    d_text: str = "term",
) -> DataFrame:
    """Autocomplete join: terms whose PREFIX is within n of the query
    (the reference's .prefix() query mode, ordered_query.rs:320).

    Blocking: the distinct query lengths L are collected (a tiny int agg —
    the adaptive-stats pattern), the dictionary side emits deletion keys of
    its prefixes at every length in ∪[L-n, L+n], the query side emits its
    own deletion neighborhood; exact-complete because a matching prefix p
    has |len(p) - len(q)| <= n and shares a deletion variant with q.

    Output: q_id, q_text, term_id, term, distance (prefix distance).
    """
    depth = effective_depth(n, variant)
    # adaptive-stats collect: cardinality is bounded by the number of
    # distinct QUERY lengths (<= max query string length, a few dozen ints),
    # never by row count — safe at any scale. ONE aggregation (r6): the
    # distinct().collect() form paid a shuffle + multi-task result stage.
    from liblevenshtein_rust_spark.session import df_is_local_relation
    if df_is_local_relation(queries):
        qlens = list({r[0] for r in
                      queries.select(F.length(F.col(q_text))).collect()
                      if r[0] is not None})
    else:
        qlens = list(queries.agg(
            F.collect_set(F.length(F.col(q_text)))).first()[0])
    plens = sorted({pl for lq in qlens for pl in range(max(lq - n, 0), lq + n + 1)})
    if not plens:
        plens = [0]
    lens_sql = ", ".join(str(x) for x in plens)

    pref = dictionary.select(
        F.col(d_id).alias("_bid"),
        F.explode(F.expr(
            f"filter(array({lens_sql}), l -> l <= length({d_text}))")).alias("_pl"),
        F.col(d_text).alias("_t"),
    ).select("_bid", F.expr("substring(_t, 1, _pl)").alias("_p"))
    dk = explode_keys(pref, "_bid",
                      hash_keys_sql(deletion_keys_sql("_p", depth))) \
        .dropDuplicates(["_bid", "_bkey"])
    qk = explode_keys(queries, q_id,
                      hash_keys_sql(deletion_keys_sql(q_text, depth)))
    with_text = attach(candidate_pairs(qk, dk), queries, dictionary,
                       q_id, q_text, d_id, d_text).where(
        F.length("_ta") - F.length("_tb") <= F.lit(n))
    # truncate the term JVM-side so Arrow never ships more than |q|+n chars
    with_text = with_text.withColumn(
        "_tb_cut", F.expr(f"substring(_tb, 1, length(_ta) + {n})"))
    pdist = make_prefix_distance_udf(n, variant)
    scored = with_text.withColumn("distance", pdist(F.col("_ta"), F.col("_tb_cut")))
    return scored.where(F.col("distance") <= n).select(
        F.col("_ida").alias(q_id), F.col("_ta").alias(q_text),
        F.col("_idb").alias(d_id), F.col("_tb").alias(d_text), "distance")


def fuzzy_top_k(matches: DataFrame, k: int, query_col: str = "q_id",
                order_cols: tuple[str, str] = ("distance", "term")) -> DataFrame:
    """Ordered-query/top-k semantics: per query, rank by (distance ASC,
    term ASC) and keep k — the reference's OrderedQueryIterator + limit
    (/root/reference/src/transducer/ordered_query.rs:64-150,
    builder_api.rs:209-214)."""
    win = Window.partitionBy(query_col).orderBy(
        *[F.col(c).asc() for c in order_cols])
    return (
        matches.withColumn("rank", F.row_number().over(win))
        .where(F.col("rank") <= k)
    )


def fuzzy_multimap(matches: DataFrame, values: DataFrame,
                   query_col: str = "q_id", term_col: str = "term_id",
                   value_col: str = "value") -> DataFrame:
    """FuzzyMultiMap::query analog (/root/reference/src/cache/multimap.rs:288):
    aggregate the values of every fuzzy-matched term per query.

    Returns (query_col, values: sorted distinct array) — the BTreeSet-union
    aggregation flavor (multimap.rs:83-158)."""
    joined = matches.join(values, term_col)
    return joined.groupBy(query_col).agg(
        F.array_sort(F.collect_set(F.col(value_col))).alias("values"))


def weighted_edit_envelope(ops, max_cost: float) -> int:
    """Unit-edit envelope of a weighted-cost threshold: any pair with
    weighted cost <= max_cost is connected by a STANDARD/OSA edit script
    of at most floor(max_cost * max_i(se_i / w_i)) operations, where
    each weighted op i costs w_i and expands to se_i unit edits — 1 for
    insert/delete/substitute/restricted classes and transpose (the
    blocking variant is OSA when transpose is enabled), and
    max(consume_x, consume_y) for a multi-char string op (a ⟨2,1⟩
    digraph is one substitution plus one deletion). The unit-cost
    blocking machinery at n = envelope is therefore a recall-lossless
    candidate generator for the weighted join (the weighted analog of
    the automaton-degree bound,
    /root/reference/src/transducer/operation_set.rs:78-240).

    A zero-weight restricted class would make the envelope unbounded
    (any number of free substitutions) — that case must be expressed as
    a unit-cost ``substitutions=SubstitutionSet`` canonicalization
    instead, and is rejected here (zero-weight string ops are rejected
    by WeightedOps itself)."""
    import math

    weights = [ops.insert, ops.delete]
    if ops.substitute is not None:
        weights.append(ops.substitute)
    if ops.transpose is not None:
        weights.append(ops.transpose)
    weights.extend(w for _, w in ops.restricted)
    if any(w <= 0 for w in weights if w is not None):
        raise ValueError(
            "zero-weight operations make the edit envelope unbounded; "
            "model free substitutions with SubstitutionSet canonicalization "
            "(fuzzy_join(substitutions=...)) instead")
    rates = [1.0 / w for w in weights if w is not None]
    rates.extend(max(len(x), len(y)) / w
                 for x, y, w in getattr(ops, "string_ops", ()))
    return int(math.floor(float(max_cost) * max(rates)))


def weighted_fuzzy_join(
    queries: DataFrame,
    dictionary: DataFrame,
    *,
    max_cost: float,
    ops=None,
    method: str = "auto",
    q_id: str = "q_id",
    q_text: str = "q_text",
    d_id: str = "term_id",
    d_text: str = "term",
    max_envelope: int = 4,
    persist: bool = False,
) -> DataFrame:
    """Weighted-cost similarity join: all (query, term) pairs whose
    WEIGHTED edit cost (per-op float weights + restricted substitution
    classes, functions/weighted.WeightedOps) is <= ``max_cost``.

    Output: q_id, q_text, term_id, term, cost (double). Blocking reuses
    the unit-cost key machinery at n = weighted_edit_envelope (recall
    proof in that docstring); verification is the banded float DP
    (weighted_batch_distance) behind a JVM codegen prefilter.

    ``max_envelope`` guards against cheap-op configs whose envelope would
    explode the key neighborhood (the reference caps automaton distance
    at n <= 7 for the same combinatorial reason, transition.rs:49)."""
    from liblevenshtein_rust_spark.functions.weighted import (
        WeightedOps, make_weighted_distance_udf)

    ops = ops or WeightedOps.standard()
    n_env = weighted_edit_envelope(ops, max_cost)
    if n_env > max_envelope:
        raise ValueError(
            f"edit envelope {n_env} (= floor({max_cost} / min op weight)) "
            f"exceeds max_envelope={max_envelope}; raise op weights, lower "
            f"max_cost, or opt in via max_envelope")
    variant = TRANSPOSITION if ops.transpose is not None else STANDARD
    if persist:
        queries = queries.persist()
        dictionary = dictionary.persist()
    method = _resolve_method(method)
    qk = _keys_for(queries, q_id, q_text, n_env, variant, method, role="probe")
    dk = _keys_for(dictionary, d_id, d_text, n_env, variant, method,
                   role="index")
    with_text = attach(candidate_pairs(qk, dk), queries, dictionary,
                       q_id, q_text, d_id, d_text)
    # JVM prefilters before the Arrow kernel: a length delta of k costs
    # >= k * (cheapest per-unit length change — an UNEVEN string op like
    # ph→f changes length by 1 at its own weight); and the unit envelope
    # bounds the plain Levenshtein distance (early-abort codegen check,
    # -1 above bound).
    import math
    uneven = [w for x, y, w in getattr(ops, "string_ops", ())
              if len(x) != len(y)]
    len_tol = int(math.floor(
        float(max_cost) / min([ops.insert, ops.delete] + uneven)))
    with_text = with_text.where(
        F.abs(F.length("_ta") - F.length("_tb")) <= F.lit(len_tol))
    if variant == STANDARD:
        with_text = with_text.where(
            F.expr(f"levenshtein(_ta, _tb, {int(n_env)}) >= 0"))
    cost_udf = make_weighted_distance_udf(float(max_cost), ops)
    scored = with_text.withColumn("cost", cost_udf(F.col("_ta"), F.col("_tb")))
    out = scored.where(F.col("cost") <= float(max_cost)).select(
        F.col("_ida").alias(q_id), F.col("_ta").alias(q_text),
        F.col("_idb").alias(d_id), F.col("_tb").alias(d_text), "cost")
    if persist:
        out._lls_persisted_inputs = [queries, dictionary]
    return out


#: per-worker-process cache of broadcast-join indexes, keyed by the join
#: invocation's token: tasks of the same join reuse one built index
#: across partitions (a closure-held dict would be re-pickled per task).
#: Bounded: oldest entries evicted beyond a handful of live joins.
_BCAST_INDEX_CACHE: dict = {}
_BCAST_CACHE_MAX = 8


def _py_deletion_neighborhood(s: str, depth: int) -> set[str]:
    """Python twin of blocking_keys.deletion_keys_sql (uncapped): all deletion
    variants of ``s`` at depths 0..depth. Same set the SQL expression
    generates, so the broadcast index and the blocked join share one
    completeness proof."""
    out = {s}
    frontier = {s}
    for _ in range(depth):
        nxt = set()
        for x in frontier:
            for i in range(len(x)):
                nxt.add(x[:i] + x[i + 1:])
        nxt -= out
        out |= nxt
        frontier = nxt
    return out


def fuzzy_broadcast_join(
    queries: DataFrame,
    dictionary: DataFrame,
    *,
    n: int,
    variant: str = STANDARD,
    q_id: str = "q_id",
    q_text: str = "q_text",
    d_id: str = "term_id",
    d_text: str = "term",
    substitutions=None,
    max_dict_rows: int = 100_000,
    max_index_keys: int = 20_000_000,
) -> DataFrame:
    """ZERO-SHUFFLE fuzzy join for small dictionaries: the broadcast-
    hash-join analog of :func:`fuzzy_join`, and the literal "per-partition
    in-memory dictionary index" strategy (SURVEY §1.4) — the reference's
    trie/DAWG rebuilt as an ephemeral SymSpell deletion index inside each
    Python worker, queries streaming through ONE mapInPandas stage.

    Memory bounds (two, both checked before any worker builds anything):
    ``max_dict_rows`` bounds the driver collect (limit(max + 1) — the
    over-limit check fires before the driver holds more than the cap);
    ``max_index_keys`` bounds the WORKER-side deletion index, which is
    what actually costs memory — each short term expands into
    sum_{k<=depth} C(len, k) keys (~hundreds at depth 2), so row count
    alone is a poor proxy. The estimate is the exact per-term binomial
    bound computed driver-side from the collected terms. Beyond either
    bound, use the blocked :func:`fuzzy_join`.

    The (ids, terms) payload ships via ``sc.broadcast`` — one torrent
    transfer per executor, NOT a copy pickled into every task closure.
    Each Python worker process builds the deletion index once per join
    invocation (module-level cache keyed by a per-call token — tasks of
    the same join reuse it across partitions AND batches). NOTE the cache
    retains up to ``_BCAST_CACHE_MAX`` full indexes per worker process
    after their joins finish (bounded by max_index_keys x that constant);
    queries longer than SHORT_MAX skip key generation entirely and scan
    the in-memory by-length buckets instead (exact, and O(#near-length
    terms) per row instead of O(len^2) deletion keys). No shuffle, no
    candidate exchange: the plan is Scan -> ArrowEval(mapInPandas).

    Semantics match fuzzy_join, including its edge behavior: one output
    row per (q_id, term_id) pair (duplicate q_id rows collapse, as the
    blocked path's pair-dedupe + text-attach dropDuplicates do) and
    null-id rows drop (as equi-joins do). Exact and complete — same
    deletion-key lemma, same kernel.
    """
    import math
    import uuid

    import pandas as pd

    from liblevenshtein_rust_spark.functions.distance import batch_distance

    n = int(n)
    depth = effective_depth(n, variant)
    sp = substitutions.codepoint_pairs() if substitutions else None
    src = dst = ""
    if substitutions is not None:
        src, dst = substitutions.translate_args()
    trans = str.maketrans(src, dst) if src else None

    rows = (dictionary.select(d_id, d_text)
            .where(F.col(d_id).isNotNull() & F.col(d_text).isNotNull())
            .dropDuplicates([d_id])
            .limit(max_dict_rows + 1).collect())
    if len(rows) > max_dict_rows:
        raise ValueError(
            f"dictionary exceeds max_dict_rows={max_dict_rows}; use the "
            f"shuffled fuzzy_join for large dictionaries")
    ids = [r[0] for r in rows]
    terms = [r[1] for r in rows]
    # worker-memory budget: exact binomial upper bound on the deletion
    # index size (only short terms are indexed; long ones go to buckets)
    est_keys = sum(
        sum(math.comb(len(t), k) for k in range(depth + 1))
        for t in terms if len(t) <= SHORT_MAX + n)
    if est_keys > max_index_keys:
        raise ValueError(
            f"estimated worker deletion-index size {est_keys:,} keys exceeds "
            f"max_index_keys={max_index_keys:,}; use the shuffled fuzzy_join "
            f"(or raise max_index_keys if the executors have the memory)")
    bc = queries.sparkSession.sparkContext.broadcast((ids, terms))
    token = uuid.uuid4().hex   # per-call cache key, same for all tasks

    # id columns keep their INPUT types (ids are opaque pass-throughs)
    from pyspark.sql.types import IntegerType, StringType, StructField, StructType
    out_schema = StructType([
        StructField(q_id, queries.schema[q_id].dataType),
        StructField(q_text, StringType()),
        StructField(d_id, dictionary.schema[d_id].dataType),
        StructField(d_text, StringType()),
        StructField("distance", IntegerType()),
    ])

    def _probe(batches):
        # one fetch per executor (torrent-distributed), not per task
        ids, terms = bc.value
        cached = _BCAST_INDEX_CACHE.get(token)
        if cached is None:
            idx: dict[str, list[int]] = {}
            buckets: dict[int, list[int]] = {}
            for j, t in enumerate(terms):
                buckets.setdefault(len(t), []).append(j)
                if len(t) <= SHORT_MAX + n:
                    kt = t.translate(trans) if trans else t
                    for k in _py_deletion_neighborhood(kt, depth):
                        idx.setdefault(k, []).append(j)
            cached = (idx, buckets)
            while len(_BCAST_INDEX_CACHE) >= _BCAST_CACHE_MAX:
                _BCAST_INDEX_CACHE.pop(next(iter(_BCAST_INDEX_CACHE)))
            _BCAST_INDEX_CACHE[token] = cached
        idx, buckets = cached
        for pdf in batches:
            o_qid, o_q, o_j = [], [], []
            for qid, q in zip(pdf[q_id], pdf[q_text]):
                if q is None or qid is None:
                    continue
                if len(q) <= SHORT_MAX:
                    kq = q.translate(trans) if trans else q
                    cand: set[int] = set()
                    for k in _py_deletion_neighborhood(kq, depth):
                        cand.update(idx.get(k, ()))
                else:
                    # long query: exact by-length-bucket scan of the small
                    # in-memory dictionary (never O(len^2) deletion keys)
                    cand = set()
                    for L in range(len(q) - n, len(q) + n + 1):
                        cand.update(buckets.get(L, ()))
                for j in cand:
                    # length prefilter, same as the blocked path
                    if abs(len(q) - len(terms[j])) <= n:
                        o_qid.append(qid)
                        o_q.append(q)
                        o_j.append(j)
            if not o_j:
                continue
            d = batch_distance(pd.Series(o_q),
                               pd.Series([terms[j] for j in o_j]),
                               n, variant, sp)
            keep = d <= n
            yield pd.DataFrame({
                q_id: [x for x, k in zip(o_qid, keep) if k],
                q_text: [x for x, k in zip(o_q, keep) if k],
                d_id: [ids[j] for j, k in zip(o_j, keep) if k],
                d_text: [terms[j] for j, k in zip(o_j, keep) if k],
                "distance": d[keep],
            })

    qs = (queries.select(q_id, q_text)
          .where(F.col(q_id).isNotNull())
          .dropDuplicates([q_id]))
    return qs.mapInPandas(_probe, schema=out_schema)
