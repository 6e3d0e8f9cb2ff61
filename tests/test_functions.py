"""Function-library parity: Spark expressions vs pure-Python oracles."""

from __future__ import annotations

from pyspark.sql import functions as F

from hypercane_spark.functions.hashes import simhash64, tf_simhash64
from hypercane_spark.oracle.simhash import (
    py_simhash64,
    py_tf_simhash64,
    xxhash64_str,
)


def test_xxh64_matches_spark(spark):
    texts = ["hello", "a", "", "the quick brown fox", "über straße", "x" * 100]
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    got = {r["t"]: r["h"] for r in df.select("t", F.xxhash64("t").alias("h")).collect()}
    for t in texts:
        assert got[t] == xxhash64_str(t), f"xxh64 mismatch for {t!r}"


def test_simhash_matches_oracle(spark, mementos):
    sample = mementos.select("bpfree_text").limit(50).collect()
    df = spark.createDataFrame(sample, "bpfree_text string")
    rows = df.select(
        "bpfree_text",
        simhash64("bpfree_text").alias("sh"),
        tf_simhash64("bpfree_text").alias("tfsh"),
    ).collect()
    for r in rows:
        assert r["sh"] == py_simhash64(r["bpfree_text"])
        assert r["tfsh"] == py_tf_simhash64(r["bpfree_text"])


def test_fixture_simhashes_consistent(spark, mementos):
    """The synth generator stamped raw/tf simhash via the oracle — confirm
    the Spark expressions agree on the actual fixture columns."""
    bad = (
        mementos.where(
            (simhash64("bpfree_text") != F.col("raw_simhash"))
            | (tf_simhash64("bpfree_text") != F.col("tf_simhash"))
        ).count()
    )
    assert bad == 0


def test_simhash_by_name_is_one_column_safe_across_plans(spark):
    """A column name yields one memoized Column; it resolves ``x`` by name
    in each plan, wherever the column sits."""
    texts = ["the quick brown fox", "Jumps over the lazy dog dog", ""]
    a = spark.createDataFrame([(t, i) for i, t in enumerate(texts)], "x string, i int")
    b = spark.createDataFrame(
        [(i, 1.0, t) for i, t in enumerate(texts)], "i int, w double, x string"
    )
    assert simhash64("x") is simhash64("x")
    assert tf_simhash64("x") is tf_simhash64("x")
    for df in (a, b):
        rows = df.select("x", simhash64("x").alias("sh"), tf_simhash64("x").alias("tf")).collect()
        for r in rows:
            assert r["sh"] == py_simhash64(r["x"])
            assert r["tf"] == py_tf_simhash64(r["x"])
