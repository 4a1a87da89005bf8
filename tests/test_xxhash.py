"""Pure-Python XXH64 parity with Spark's xxhash64 (oracle independence)."""

from __future__ import annotations

from pyspark.sql import functions as F

from logstash_integration_jdbc_spark.functions.xxhash import (
    spark_ws_tokens,
    xxh64_str,
)


def test_xxh64_matches_spark(spark):
    cases = ["", "a", "ab", "abc", "abcd", "hello world", "x" * 7, "y" * 8,
             "z" * 9, "w" * 31, "v" * 32, "u" * 33, "t" * 100,
             "zäöü ünïcødé", "日本語テキスト", "tool_call=search", " lead/trail "]
    df = spark.createDataFrame([(c,) for c in cases], "s string")
    got = {r.s: r.h for r in df.select("s", F.xxhash64("s").alias("h")).collect()}
    for c in cases:
        assert xxh64_str(c) == got[c], c


def test_ws_tokens_match_spark_split(spark):
    cases = ["a b  c", "  lead", "trail  ", "\ttab\nline\r", "", " ",
             "ONE two\x0bTHREE", "über Käse"]
    df = spark.createDataFrame([(c,) for c in cases], "s string")
    got = {r.s: list(r.t) for r in df.select(
        "s", F.split(F.trim(F.lower(F.col("s"))), r"\s+").alias("t")).collect()}
    for c in cases:
        assert spark_ws_tokens(c) == got[c], repr(c)


def test_xxh64_long_chain_matches_spark(spark):
    """spark_xxhash64_longs must equal xxhash64(c1, c2, ...) over
    LongType columns (InterpretedHashFunction seed-chain fold) — the
    winnowing substring-dedup oracle rests on this parity."""
    from logstash_integration_jdbc_spark.functions.xxhash import (
        spark_xxhash64_longs,
    )

    rows = [(1, 2, 3), (-5, 7, 0), (2**62, -(2**62), -1),
            (0, 0, 0), (-1, -1, -1), (123456789, -987654321, 42)]
    df = spark.createDataFrame(rows, "a long, b long, c long")
    got = df.select(
        F.xxhash64("a").alias("h1"),
        F.xxhash64("a", "b").alias("h2"),
        F.xxhash64("a", "b", "c").alias("h3"),
    ).collect()
    for (a, b, c), r in zip(rows, got):
        assert spark_xxhash64_longs([a]) == r.h1
        assert spark_xxhash64_longs([a, b]) == r.h2
        assert spark_xxhash64_longs([a, b, c]) == r.h3


def test_vectorized_xxh64_chain_matches_scalar():
    """The numpy XXH64 the Arrow kernels use must equal the scalar
    ``xxh64_long`` chain value for value, signed extremes included."""
    import random

    import numpy as np

    from logstash_integration_jdbc_spark.functions.xxhash import (
        spark_xxhash64_longs,
        spark_xxhash64_longs_np,
        xxh64_long,
        xxh64_long_np,
    )

    rng = random.Random(11)
    edges = [0, -1, -(2**63), 2**63 - 1, 1, 42]
    vals = edges + [rng.randrange(-(2**63), 2**63) for _ in range(200)]
    cols = [np.array(vals, dtype=np.int64),
            np.array(vals[::-1], dtype=np.int64),
            np.roll(np.array(vals, dtype=np.int64), 3)]
    seeds = np.array([rng.randrange(2**64) for _ in vals], dtype=np.uint64)
    assert xxh64_long_np(cols[0], seeds).tolist() == [
        xxh64_long(v, int(s)) for v, s in zip(vals, seeds)]
    got = spark_xxhash64_longs_np(cols)
    assert got.dtype == np.int64
    assert got.tolist() == [
        spark_xxhash64_longs([int(c[i]) for c in cols]) for i in range(len(vals))]
