"""Salted skew path must produce byte-identical results to the plain path."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from liblevenshtein_rust_spark.functions.blocking_keys import (
    deletion_keys_sql,
    hash_keys_sql,
)
from liblevenshtein_rust_spark.operators.candidates import explode_keys
from liblevenshtein_rust_spark.operators.fuzzy_join import (
    build_dictionary,
    fuzzy_self_join,
)
from liblevenshtein_rust_spark.operators.skew import block_size_stats


@pytest.fixture(scope="module")
def skewed_terms(spark):
    # lots of ultra-short strings: at n=2 they all share tiny deletion
    # variants ("", single chars) -> pathological hot blocks, plus some
    # normal words
    shorts = [c1 + c2 for c1 in "abcdef" for c2 in "abcdef"] + list("abcdef")
    words = ["stream", "steam", "table", "tble", "windows", "window"]
    df = spark.createDataFrame([(t,) for t in shorts + words], ["text"])
    return build_dictionary(df).cache()


@pytest.mark.parametrize("method", ["deletion", "hybrid"])
def test_salted_equals_unsalted(spark, skewed_terms, method):
    plain = {
        (r.term_a, r.term_b, r.distance)
        for r in fuzzy_self_join(skewed_terms, n=2, method=method).collect()
    }
    salted = {
        (r.term_a, r.term_b, r.distance)
        for r in fuzzy_self_join(skewed_terms, n=2, method=method,
                                 salt_threshold=5, salt_groups=4).collect()
    }
    assert salted == plain
    assert len(plain) > 100  # the short strings really do interconnect


def test_block_stats_reports_hot_blocks(spark, skewed_terms):
    keys = explode_keys(skewed_terms, "term_id",
                        hash_keys_sql(deletion_keys_sql("term", 2)))
    stats = block_size_stats(keys).collect()[0]
    assert stats.max_block > 5
    assert stats.candidate_pairs_upper > 0
