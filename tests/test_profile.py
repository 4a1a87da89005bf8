"""One-pass table profiling."""

import pytest
from pyspark.sql import functions as F


def _df(spark):
    rows = [
        (1, "alpha", 2.0, None),
        (2, "beta", 4.0, "x"),
        (3, None, 6.0, "x"),
        (3, "alpha", None, "y"),
    ]
    return spark.createDataFrame(
        rows, "id long, name string, score double, tag string")


def test_profile_exact_stats(spark):
    from logstash_integration_jdbc_spark.operators.profile import profile

    out = {r["column"]: r
           for r in profile(_df(spark), exact_distinct=True).collect()}
    assert set(out) == {"id", "name", "score", "tag"}
    assert all(r["n_rows"] == 4 for r in out.values())
    assert out["id"]["n_nulls"] == 0 and out["id"]["n_distinct"] == 3
    assert out["name"]["n_nulls"] == 1 and out["name"]["n_distinct"] == 2
    assert out["name"]["min_val"] == "alpha" and out["name"]["max_val"] == "beta"
    assert out["score"]["mean"] == pytest.approx(4.0)
    assert out["score"]["stddev"] == pytest.approx(2.0)
    # non-numeric columns carry NULL moments
    assert out["tag"]["mean"] is None and out["tag"]["stddev"] is None
    assert out["id"]["min_val"] == "1" and out["id"]["max_val"] == "3"


def test_profile_column_subset_and_empty_selection(spark):
    from logstash_integration_jdbc_spark.operators.profile import profile

    out = profile(_df(spark), columns=["id"], exact_distinct=True).collect()
    assert [r["column"] for r in out] == ["id"]
    with pytest.raises(ValueError, match="no atomic columns"):
        profile(_df(spark), columns=["nope"])


def test_profile_skips_non_atomic(spark):
    from logstash_integration_jdbc_spark.operators.profile import profile

    df = _df(spark).withColumn("arr", F.array(F.lit(1)))
    cols = {r["column"] for r in profile(df, exact_distinct=True).collect()}
    assert "arr" not in cols


def test_profile_single_pass_plan(spark, testdata):
    from tests.test_plans import plan_of

    from logstash_integration_jdbc_spark.operators.profile import profile

    docs = spark.read.parquet(testdata("sf0.001/documents.parquet"))
    p = plan_of(profile(docs))
    # approx-distinct default: ONE scan, no Expand, no Python
    assert p.count("Scan parquet") == 1
    assert "Expand" not in p
    assert "EvalPython" not in p
