"""Fuzzy-join correctness vs brute-force oracle.

Mirrors the reference's query semantics tests
(/root/reference/tests/query_comprehensive_test.rs — the fixed 27-term
dictionary; /root/reference/tests/proptest_levenshtein.rs:63-120 —
soundness + completeness properties). The Spark result must equal the
brute-force cross-join + exact DP at every n and variant.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from liblevenshtein_rust_spark.functions.distance import (
    MERGE_AND_SPLIT,
    STANDARD,
    TRANSPOSITION,
    distance_py,
)
from liblevenshtein_rust_spark.operators.fuzzy_join import (
    build_dictionary,
    fuzzy_join,
    fuzzy_self_join,
    fuzzy_top_k,
)

# /root/reference/tests/query_comprehensive_test.rs:6-13
DICT27 = [
    "a", "ab", "abc", "abcd", "abcde", "b", "bc", "bcd", "bcde", "test",
    "testing", "tested", "tester", "tests", "best", "rest", "nest", "west",
    "quest", "foo", "food", "fool", "football", "bar", "bark", "barn", "barley",
]
QUERIES = ["test", "tset", "quuo", "fool", "barnn", "xyz", "", "abcf"]


def _oracle(queries, terms, n, variant):
    out = set()
    for q in queries:
        for t in terms:
            d = distance_py(q, t, variant)
            if d <= n:
                out.add((q, t, d))
    return out


@pytest.fixture(scope="module")
def dict_df(spark):
    df = spark.createDataFrame([(t,) for t in DICT27], ["text"])
    return build_dictionary(df).cache()


@pytest.fixture(scope="module")
def query_df(spark):
    return spark.createDataFrame(
        [(q, q) for q in QUERIES], ["q_id", "q_text"]).cache()


@pytest.mark.parametrize("variant", [STANDARD, TRANSPOSITION, MERGE_AND_SPLIT])
@pytest.mark.parametrize("n", [0, 1, 2, 3])
def test_fuzzy_join_equals_bruteforce(spark, dict_df, query_df, n, variant):
    got = {
        (r.q_text, r.term, r.distance)
        for r in fuzzy_join(query_df, dict_df, n=n, variant=variant,
                            method="deletion").collect()
    }
    assert got == _oracle(QUERIES, DICT27, n, variant)


@pytest.mark.parametrize("variant", [STANDARD, TRANSPOSITION])
def test_fuzzy_join_segment_method(spark, dict_df, query_df, variant):
    got = {
        (r.q_text, r.term, r.distance)
        for r in fuzzy_join(query_df, dict_df, n=2, variant=variant,
                            method="segment").collect()
    }
    assert got == _oracle(QUERIES, DICT27, 2, variant)


def test_fuzzy_self_join_equals_bruteforce(spark, dict_df):
    got = {
        (min(r.term_a, r.term_b), max(r.term_a, r.term_b), r.distance)
        for r in fuzzy_self_join(dict_df, n=2, method="deletion").collect()
    }
    exp = set()
    for i, a in enumerate(DICT27):
        for b in DICT27[i + 1:]:
            d = distance_py(a, b, STANDARD)
            if d <= 2:
                exp.add((min(a, b), max(a, b), d))
    assert got == exp


def test_hybrid_method_mixed_lengths(spark):
    """Hybrid blocking (deletion keys for short strings, segments for
    long) must be exact across the SHORT_MAX boundary."""
    texts = (
        DICT27
        + ["the quick brown fox jumps over the lazy dog",
           "the quick brown fox jumps over the lazy dig",
           "a medium sized string here x",   # just above SHORT_MAX
           "a medium sized string here",     # crosses the boundary
           "twentyfourcharacters okx",       # == SHORT_MAX
           "twentyfourcharacters ok"]
    )
    d = build_dictionary(spark.createDataFrame([(t,) for t in texts], ["text"]))
    got = {
        (min(r.term_a, r.term_b), max(r.term_a, r.term_b), r.distance)
        for r in fuzzy_self_join(d, n=2, method="hybrid").collect()
    }
    exp = set()
    for i, a in enumerate(texts):
        for b in texts[i + 1:]:
            dd = distance_py(a, b, STANDARD)
            if dd <= 2 and a != b:
                exp.add((min(a, b), max(a, b), dd))
    assert got == exp


def test_large_distance_regression(spark):
    """query_ordered("quuo", 99) over 5 terms returns all 5
    (/root/reference/tests/query_comprehensive_test.rs:100-121)."""
    terms = ["foo", "bar", "baz", "quo", "qux"]
    d = build_dictionary(spark.createDataFrame([(t,) for t in terms], ["text"]))
    q = spark.createDataFrame([("quuo", "quuo")], ["q_id", "q_text"])
    # depth capped at 7 in the reference; deletion blocking at huge n is
    # the full powerset so use segment method for the large-n regression
    got = fuzzy_join(q, d, n=7, method="segment").collect()
    assert {r.term for r in got} == set(terms)


def test_ordered_topk_semantics(spark, dict_df):
    """Ordered query: distance ASC then term ASC; top-k cuts lazily
    (/root/reference/src/transducer/ordered_query.rs:30-34)."""
    q = spark.createDataFrame([("test", "test")], ["q_id", "q_text"])
    m = fuzzy_join(q, dict_df, n=1, method="deletion")
    top = fuzzy_top_k(m, 3).orderBy("rank").collect()
    assert [(r.term, r.distance) for r in top] == [
        ("test", 0), ("best", 1), ("nest", 1)]


def test_spark_builtin_levenshtein_matches_reference_oracle(spark):
    """The JVM fast path (_score_pairs uses levenshtein(a,b,threshold) for
    the standard variant) must agree with the reference DP semantics,
    including Unicode codepoint counting and threshold -1 behavior."""
    import pyspark.sql.functions as F

    cases = [(a, b) for a in ["kitten", "café", "日本", "", "ab", "tests",
                              "the quick brown fox", "algorithm"]
             for b in ["sitting", "cafe", "本日", "¡", "ba", "test",
                       "the quikc brown fox", "altruistic"]]
    df = spark.createDataFrame(cases, ["a", "b"])
    rows = df.select("a", "b", F.expr("levenshtein(a, b)").alias("d"),
                     F.expr("levenshtein(a, b, 2)").alias("d2")).collect()
    for r in rows:
        exp = distance_py(r.a, r.b, STANDARD)
        assert r.d == exp, (r.a, r.b)
        assert r.d2 == (exp if exp <= 2 else -1), (r.a, r.b)


def test_distance_zero_exact_match_only(spark, dict_df):
    q = spark.createDataFrame([("test", "test")], ["q_id", "q_text"])
    got = fuzzy_join(q, dict_df, n=0, method="deletion").collect()
    assert len(got) == 1 and got[0].term == "test" and got[0].distance == 0


def test_broadcast_join_matches_blocked_join(spark):
    from liblevenshtein_rust_spark.operators.fuzzy_join import (
        fuzzy_broadcast_join, fuzzy_join)
    dict_df = spark.createDataFrame(
        [(t, t) for t in ["test", "tests", "tset", "best", "abcd", "ab",
                          "日本語", "café"]], ["term_id", "term"])
    qs = spark.createDataFrame(
        [(q, q) for q in ["test", "tst", "bst", "abce", "日本", "cafe", "zzz"]],
        ["q_id", "q_text"])
    for variant in ["standard", "transposition", "merge_and_split"]:
        a = {tuple(r) for r in fuzzy_join(
            qs, dict_df, n=2, variant=variant, method="deletion").collect()}
        b = {tuple(r) for r in fuzzy_broadcast_join(
            qs, dict_df, n=2, variant=variant).collect()}
        assert a == b, variant
    assert a  # workload yields matches


def test_broadcast_join_substitutions(spark):
    from liblevenshtein_rust_spark.functions.substitutions import SubstitutionSet
    from liblevenshtein_rust_spark.operators.fuzzy_join import (
        fuzzy_broadcast_join, fuzzy_join)
    dict_df = spark.createDataFrame(
        [(t, t) for t in ["phone", "zone", "seat"]], ["term_id", "term"])
    qs = spark.createDataFrame([(q, q) for q in ["fone", "zeat"]],
                               ["q_id", "q_text"])
    subs = SubstitutionSet.of(("f", "p"), ("s", "z"))
    a = {tuple(r) for r in fuzzy_join(
        qs, dict_df, n=1, method="deletion", substitutions=subs).collect()}
    b = {tuple(r) for r in fuzzy_broadcast_join(
        qs, dict_df, n=1, substitutions=subs).collect()}
    assert a == b and a


def test_broadcast_join_dict_cap(spark):
    import pytest as _pytest
    from liblevenshtein_rust_spark.operators.fuzzy_join import (
        fuzzy_broadcast_join)
    dict_df = spark.createDataFrame(
        [(str(i), f"t{i}") for i in range(30)], ["term_id", "term"])
    qs = spark.createDataFrame([("q", "t1")], ["q_id", "q_text"])
    with _pytest.raises(ValueError, match="max_dict_rows"):
        fuzzy_broadcast_join(qs, dict_df, n=1, max_dict_rows=10)


def test_broadcast_join_key_budget_cap(spark):
    """max_index_keys bounds the WORKER-side deletion index (row count is
    a poor proxy for index memory — ADVICE r2): 30 ten-char terms at
    depth 2 expand to 30 * (1 + 10 + 45) = 1,680 keys > 1,000."""
    import pytest as _pytest
    from liblevenshtein_rust_spark.operators.fuzzy_join import (
        fuzzy_broadcast_join)
    dict_df = spark.createDataFrame(
        [(str(i), f"abcdefgh{i:02d}") for i in range(30)], ["term_id", "term"])
    qs = spark.createDataFrame([("q", "abcdefgh01")], ["q_id", "q_text"])
    with _pytest.raises(ValueError, match="max_index_keys"):
        fuzzy_broadcast_join(qs, dict_df, n=2, max_index_keys=1000)
    # within budget it runs and matches
    got = fuzzy_broadcast_join(qs, dict_df, n=2, max_index_keys=2000).collect()
    assert {r.term for r in got} >= {"abcdefgh01"}


def test_broadcast_join_nonstring_ids_and_nulls(spark):
    from liblevenshtein_rust_spark.operators.fuzzy_join import (
        fuzzy_broadcast_join)
    dict_df = spark.createDataFrame(
        [(1, "test"), (2, "best"), (3, None)],
        "term_id long, term string")
    qs = spark.createDataFrame(
        [(10, "tst"), (11, None)], "q_id int, q_text string")
    got = {(r.q_id, r.term_id, r.term, r.distance)
           for r in fuzzy_broadcast_join(qs, dict_df, n=1).collect()}
    assert got == {(10, 1, "test", 1)}
    out = fuzzy_broadcast_join(qs, dict_df, n=1)
    assert dict(out.dtypes) == {"q_id": "int", "q_text": "string",
                                "term_id": "bigint", "term": "string",
                                "distance": "int"}


def test_broadcast_join_long_queries_use_bucket_scan(spark):
    from liblevenshtein_rust_spark.operators.fuzzy_join import (
        fuzzy_broadcast_join, fuzzy_join)
    long_t = "x" * 40
    dict_df = spark.createDataFrame(
        [("a", long_t), ("b", long_t[:-1] + "y"), ("c", "short")],
        ["term_id", "term"])
    qs = spark.createDataFrame(
        [("q1", long_t[:-1]), ("q2", "shrt")], ["q_id", "q_text"])
    a = {tuple(r) for r in fuzzy_join(
        qs, dict_df, n=1, method="hybrid").collect()}
    b = {tuple(r) for r in fuzzy_broadcast_join(qs, dict_df, n=1).collect()}
    assert a == b and a


def test_broadcast_join_duplicate_query_rows_collapse(spark):
    # parity with the blocked path's pair-level dedupe
    from liblevenshtein_rust_spark.operators.fuzzy_join import (
        fuzzy_broadcast_join, fuzzy_join)
    dict_df = spark.createDataFrame([("t1", "test")], ["term_id", "term"])
    qs = spark.createDataFrame(
        [("q1", "tst"), ("q1", "tst")], ["q_id", "q_text"])
    a = fuzzy_join(qs, dict_df, n=1, method="deletion").collect()
    b = fuzzy_broadcast_join(qs, dict_df, n=1).collect()
    assert len(a) == len(b) == 1


def test_union_replace_last_wins(spark):
    """union_replace: other's value replaces base's on key conflict, no
    merge (/root/reference/src/dictionary/mod.rs:443-461)."""
    from liblevenshtein_rust_spark.operators.fuzzy_join import union_replace
    base = spark.createDataFrame(
        [("a", 1), ("b", 2), ("c", 3)], ["term", "freq"])
    other = spark.createDataFrame([("b", 20), ("d", 40)], ["term", "freq"])
    got = {(r.term, r.freq) for r in union_replace(base, other).collect()}
    assert got == {("a", 1), ("b", 20), ("c", 3), ("d", 40)}
    # empty other is the identity; empty base yields other
    empty = other.where("false")
    assert {tuple(r) for r in union_replace(base, empty).collect()} == \
        {("a", 1), ("b", 2), ("c", 3)}
    assert {tuple(r) for r in union_replace(empty, other).collect()} == \
        {("b", 20), ("d", 40)}


@pytest.mark.parametrize("join", ["fuzzy_join", "weighted_fuzzy_join"])
def test_persisted_inputs_are_released(spark, join):
    """persist=True registers both cached inputs on the result, so
    unpersist_inputs releases them."""
    from liblevenshtein_rust_spark.operators.dedup import unpersist_inputs
    from liblevenshtein_rust_spark.operators.fuzzy_join import (
        weighted_fuzzy_join)
    terms = spark.createDataFrame([("t1", "test"), ("t2", "tast")],
                                  ["term_id", "term"])
    qs = spark.createDataFrame([("q1", "tst")], ["q_id", "q_text"])
    if join == "fuzzy_join":
        out = fuzzy_join(qs, terms, n=1, persist=True)
    else:
        out = weighted_fuzzy_join(qs, terms, max_cost=1.0, persist=True)
    assert out.count() == 2
    assert qs.is_cached and terms.is_cached
    unpersist_inputs(out)
    assert not qs.is_cached and not terms.is_cached
