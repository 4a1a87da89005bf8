"""Naive-Bayes quality classifier: exact-count semantics, numpy twin,
scale-shape invariants."""

import math

from pyspark.sql import functions as F


def _labeled_docs(spark):
    rows = [
        (1, "good clean prose text here", True),
        (2, "good text with clean words", True),
        (3, "spam spam buy now spam", False),
        (4, "buy now spam offer", False),
        (5, "clean prose with good words", True),
        (6, "", False),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, label boolean")


def _nb_twin(rows, alpha=1.0):
    """Independent python twin of train+score."""
    c1, c0 = {}, {}
    n_pos = n_neg = 0
    for _, text, y in rows:
        toks = text.strip().lower().split() if text.strip() else []
        for t in toks:
            (c1 if y else c0)[t] = (c1 if y else c0).get(t, 0) + 1
        if y:
            n_pos += 1
        else:
            n_neg += 1
    vocab = set(c1) | set(c0)
    n1, n0, v = sum(c1.values()), sum(c0.values()), len(vocab)
    llr = {
        t: math.log((c1.get(t, 0) + alpha) / (n1 + alpha * v))
        - math.log((c0.get(t, 0) + alpha) / (n0 + alpha * v))
        for t in vocab
    }
    prior = math.log((n_pos + 1.0) / (n_neg + 1.0))
    out = {}
    for did, text, _ in rows:
        toks = text.strip().lower().split() if text.strip() else []
        out[did] = prior + sum(llr.get(t, 0.0) for t in toks)
    return out


def test_nb_matches_python_twin(spark):
    from logstash_integration_jdbc_spark.operators.classify import (
        train_and_score,
    )

    rows = [(r[0], r[1], r[2]) for r in _labeled_docs(spark).collect()]
    got = {r["doc_id"]: r["nb_score"]
           for r in train_and_score(_labeled_docs(spark), "label").collect()}
    want = _nb_twin(rows)
    assert set(got) == set(want)
    for did in want:
        assert abs(got[did] - want[did]) < 1e-9, did


def test_nb_separates_classes(spark):
    from logstash_integration_jdbc_spark.operators.classify import (
        train_and_score,
    )

    out = {r["doc_id"]: r["nb_pred"]
           for r in train_and_score(_labeled_docs(spark), "label").collect()}
    assert out[1] and out[2] and out[5]
    assert not out[3] and not out[4]


def test_nb_scores_unseen_corpus(spark):
    from logstash_integration_jdbc_spark.operators.classify import (
        nb_prior_llr,
        nb_score,
        train_nb_llr,
    )

    train = _labeled_docs(spark)
    llr = train_nb_llr(train, "label")
    prior = nb_prior_llr(train, "label")
    test = spark.createDataFrame(
        [(10, "clean good prose"), (11, "buy spam now"),
         (12, "totally novel tokens only")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in nb_score(test, llr, prior).collect()}
    assert out[10]["nb_pred"] and not out[11]["nb_pred"]
    # all-OOV doc falls back to the prior alone
    prior_val = prior.collect()[0]["prior_llr"]
    assert abs(out[12]["nb_score"] - prior_val) < 1e-12


def test_nb_min_count_floor(spark):
    from logstash_integration_jdbc_spark.operators.classify import train_nb_llr

    llr_all = train_nb_llr(_labeled_docs(spark), "label")
    llr_floored = train_nb_llr(_labeled_docs(spark), "label", min_count=2)
    toks_all = {r["token"] for r in llr_all.collect()}
    toks_f = {r["token"] for r in llr_floored.collect()}
    assert toks_f < toks_all
    assert "spam" in toks_f  # 4 occurrences
    assert "here" not in toks_f  # singleton
    # the floor must not change surviving tokens' llr (totals unchanged)
    a = {r["token"]: r["llr"] for r in llr_all.collect()}
    b = {r["token"]: r["llr"] for r in llr_floored.collect()}
    for t, v in b.items():
        assert abs(v - a[t]) < 1e-15


def test_nb_plan_shapes(spark, testdata):
    from logstash_integration_jdbc_spark.operators.classify import (
        train_and_score,
    )

    from tests.test_plans import plan_of

    docs = spark.read.parquet(testdata("sf0.001/documents.parquet"))
    labeled = docs.withColumn("label", F.col("lang") == "en")
    p = plan_of(train_and_score(labeled, "label"))
    assert "EvalPython" not in p
    assert "BroadcastExchange" in p
