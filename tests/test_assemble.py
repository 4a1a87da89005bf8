"""Conversation assembly: ordering, token budgets, max_turns cap."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from logstash_integration_jdbc_spark.operators.assemble import assemble_conversations


def df_of(spark):
    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        ("c1", 2, "assistant", "three words here", t0 + datetime.timedelta(minutes=2)),
        ("c1", 0, "user", "hello", t0),
        ("c1", 1, "assistant", "hi there", t0 + datetime.timedelta(minutes=1)),
        ("c2", 0, "user", "solo", t0),
    ]
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, ts timestamp"
    )


def test_document_ordered_by_turn_idx(spark):
    out = {r.conv_id: r for r in assemble_conversations(df_of(spark)).collect()}
    assert out["c1"].document == "user: hello\nassistant: hi there\nassistant: three words here"
    assert out["c1"].n_turns == 3
    assert out["c1"].n_tokens == 1 + 2 + 3
    assert out["c1"].first_ts < out["c1"].last_ts
    assert out["c2"].document == "user: solo"


def test_max_turns_caps_document(spark):
    out = {r.conv_id: r for r in
           assemble_conversations(df_of(spark), max_turns=2).collect()}
    assert out["c1"].document == "user: hello\nassistant: hi there"
    assert out["c1"].n_tokens == 3  # tokens follow the cap
    assert out["c1"].n_turns == 3   # raw turn count still reported


def test_jvm_only(spark):
    plan = assemble_conversations(df_of(spark))._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan


def test_sessionize_native_matches_lag_form(spark, testdata):
    from pyspark.sql import Window

    from logstash_integration_jdbc_spark.operators.aggregate import (
        sessionize_native,
    )

    ev = spark.read.parquet(testdata("sf0.001/events.parquet"))
    sess = sessionize_native(ev, gap="30 minutes")
    native = {r.user_id: r.n for r in
              sess.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()}

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = us - F.lag(us).over(w)
    bound = F.when(gap.isNull() | (gap > 1800 * 1_000_000), 1).otherwise(0)
    lag_form = {r.user_id: r.n for r in
                ev.withColumn("s", bound).groupBy("user_id")
                .agg(F.sum("s").alias("n")).collect()}
    assert native == lag_form

    # session spans cover their events: n_events sums to the row count
    total = sum(r.n_events for r in sess.collect())
    assert total == ev.count()


def test_sessionize_native_exact_gap_boundary(spark):
    """An event exactly `gap` after the previous one MERGES (Spark
    merges touching windows) — same as the lag `>` form; one past the
    gap starts a new session."""
    from logstash_integration_jdbc_spark.operators.aggregate import (
        sessionize_native,
    )

    df = spark.createDataFrame(
        [("u", "2024-01-01 00:00:00"), ("u", "2024-01-01 00:30:00"),
         ("v", "2024-01-01 00:00:00"), ("v", "2024-01-01 00:30:00.000001")],
        "user_id string, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    per_user = {}
    for r in sessionize_native(df, gap="30 minutes").collect():
        per_user[r.user_id] = per_user.get(r.user_id, 0) + 1
    assert per_user == {"u": 1, "v": 2}


def test_context_windows_basic(spark):
    from logstash_integration_jdbc_spark.operators.assemble import context_windows

    out = context_windows(df_of(spark), k=2).orderBy("conv_id", "turn_idx").collect()
    # c1 has assistant turns at idx 1 and 2; c2 has none
    assert [(r.conv_id, r.turn_idx) for r in out] == [("c1", 1), ("c1", 2)]
    assert out[0].context == "user: hello" and out[0].n_ctx == 1
    assert out[1].context == "user: hello\nassistant: hi there"
    assert out[1].target == "three words here"


def test_context_windows_k_bounds_context(spark):
    from logstash_integration_jdbc_spark.operators.assemble import context_windows

    out = {r.turn_idx: r for r in context_windows(df_of(spark), k=1).collect()}
    # k=1: turn 2 sees only turn 1, not turn 0
    assert out[2].context == "assistant: hi there" and out[2].n_ctx == 1


def test_context_windows_opening_target_empty_context(spark):
    import datetime

    from logstash_integration_jdbc_spark.operators.assemble import context_windows

    t0 = datetime.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [("c", 0, "assistant", "opener", t0)],
        "conv_id string, turn_idx int, role string, text string, ts timestamp")
    row = context_windows(df, k=3).collect()[0]
    assert row.context == "" and row.n_ctx == 0


def test_context_windows_validates(spark):
    import pytest

    from logstash_integration_jdbc_spark.operators.assemble import context_windows

    with pytest.raises(ValueError, match="k must be"):
        context_windows(df_of(spark), k=0)


def test_preference_pairs_picks_best_vs_worst(spark):
    from logstash_integration_jdbc_spark.operators.preference import (
        preference_pairs,
    )

    rows = [
        # group g1: clear best (id 3, 0.9) and worst (id 1, 0.1)
        ("g1", 1, 0.1, "w"), ("g1", 2, 0.5, "m"), ("g1", 3, 0.9, "b"),
        # group g2: tied best 0.8 on ids 5,6 -> chosen id 5 (lowest);
        # tied worst 0.2 on ids 7,8 -> rejected id 7 (lowest)
        ("g2", 5, 0.8, "a"), ("g2", 6, 0.8, "a2"),
        ("g2", 7, 0.2, "z"), ("g2", 8, 0.2, "z2"),
        # group g3: all equal -> gap 0 -> dropped
        ("g3", 9, 0.5, "x"), ("g3", 10, 0.5, "y"),
        # group g4: single candidate -> chosen == rejected -> dropped
        ("g4", 11, 0.7, "solo"),
        # group g5: null scores ignored
        ("g5", 12, None, "n"), ("g5", 13, 0.6, "k"), ("g5", 14, 0.3, "j"),
    ]
    df = spark.createDataFrame(
        rows, "grp string, doc_id long, score double, text string")
    out = {r.grp: r for r in preference_pairs(
        df, "grp", "doc_id", "score", payload_cols=("text",)).collect()}
    assert set(out) == {"g1", "g2", "g5"}
    assert (out["g1"].chosen_id, out["g1"].rejected_id) == (3, 1)
    assert (out["g1"].chosen_text, out["g1"].rejected_text) == ("b", "w")
    assert abs(out["g1"].score_gap - 0.8) < 1e-12
    assert (out["g2"].chosen_id, out["g2"].rejected_id) == (5, 7)
    assert (out["g5"].chosen_id, out["g5"].rejected_id) == (13, 14)

    # margin gate: require a gap strictly above 0.5
    strict = {r.grp for r in preference_pairs(
        df, "grp", "doc_id", "score", margin=0.5).collect()}
    assert strict == {"g1", "g2"}

    import pytest as _pytest

    with _pytest.raises(ValueError):
        preference_pairs(df, "grp", "doc_id", "score", margin=-1)


def test_render_chat_template_spans_extract_targets(spark):
    from logstash_integration_jdbc_spark.operators.assemble import (
        render_chat_template,
    )

    out = {r.conv_id: r for r in
           render_chat_template(df_of(spark)).collect()}
    c1 = out["c1"]
    assert c1.document == (
        "<|im_start|>user\nhello<|im_end|>\n"
        "<|im_start|>assistant\nhi there<|im_end|>\n"
        "<|im_start|>assistant\nthree words here<|im_end|>\n")
    # spans extract exactly the assistant CONTENT, in order
    assert [c1.document[sp.s:sp.e] for sp in c1.loss_spans] == [
        "hi there", "three words here"]
    assert c1.n_targets == 2 and c1.target_chars == len("hi there") + len(
        "three words here")
    # no-assistant conversation: EMPTY spans array, never null
    c2 = out["c2"]
    assert list(c2.loss_spans) == [] and c2.n_targets == 0
    assert c2.target_chars == 0


def test_render_chat_template_single_exchange_jvm_only(spark):
    from logstash_integration_jdbc_spark.operators.assemble import (
        render_chat_template,
    )

    plan = (render_chat_template(df_of(spark))
            ._jdf.queryExecution().executedPlan().toString())
    # window offsets + groupBy share ONE conv_id exchange; all JVM
    assert plan.count("Exchange hashpartitioning") == 1
    assert "EvalPython" not in plan


def test_truncate_tail_budget_keeps_suffix(spark):
    from logstash_integration_jdbc_spark.operators.assemble import (
        truncate_tail_budget,
    )

    kept = truncate_tail_budget(df_of(spark), budget=5).collect()
    by_conv = {}
    for r in kept:
        by_conv.setdefault(r.conv_id, []).append((r.turn_idx, r.cum_tokens))
    # c1 tokens per turn: idx0=1, idx1=2, idx2=3 → suffix fitting 5 is
    # turns {1,2} (cum 3 then 5); turn 0 would push cum to 6
    assert sorted(by_conv["c1"]) == [(1, 5), (2, 3)]
    assert by_conv["c2"] == [(0, 1)]


def test_truncate_tail_budget_overflow_turn_drops_older_small_turns(spark):
    from logstash_integration_jdbc_spark.operators.assemble import (
        truncate_tail_budget,
    )

    df = spark.createDataFrame(
        [("c", 0, "user", "a"), ("c", 1, "user", "w x y z q r s t u v"),
         ("c", 2, "user", "b c")],
        "conv_id string, turn_idx int, role string, text string")
    kept = sorted(r.turn_idx for r in truncate_tail_budget(df, budget=4).collect())
    # the 10-token turn 1 overflows: turn 0 (1 token) must drop too —
    # suffix property, not knapsack
    assert kept == [2]


def test_truncate_tail_budget_validates(spark):
    import pytest

    from logstash_integration_jdbc_spark.operators.assemble import (
        truncate_tail_budget,
    )

    with pytest.raises(ValueError, match="budget"):
        truncate_tail_budget(df_of(spark), budget=-1)
