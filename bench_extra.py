"""Supplementary benchmarks for the optimization round (guide §1.4):
noop-sink / count isolation per query and per stage. ``bench.py`` is
frozen for the driver's measurement; all exploratory numbers cited in
OPTIMIZATION_r06.md come from here.

Usage:
  python bench_extra.py queries [name ...]      # headline queries, min-of-k
  python bench_extra.py minhash-stages [rows]   # stage breakdown
  python bench_extra.py pipeline-stages [rows]  # stage breakdown
  python bench_extra.py substring-stages [rows]
  python bench_extra.py perplexity-stages [rows]

Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_BENCH_REPS.
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

REPS = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))


def _spark(app="bench-extra"):
    from logstash_integration_jdbc_spark.session import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(app_name=app, master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _time(spark, label, action, reps=REPS):
    times = []
    for _ in range(reps):
        spark.sparkContext.setJobDescription(label)
        t0 = time.time()
        action()
        times.append(time.time() - t0)
    spark.sparkContext.setJobDescription(None)
    out = {"min": round(min(times), 3), "med": round(sorted(times)[len(times) // 2], 3)}
    print(f"{label:42s} min={out['min']:8.3f} med={out['med']:8.3f}", flush=True)
    return out


def _noop(df):
    return lambda: df.write.format("noop").mode("overwrite").save()


def cmd_queries(names):
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = _spark()
    import __spark_entry__ as entrymod
    from bench import HEADLINE

    qs = entrymod.queries()
    spark.read.parquet(f"{sf_dir}/events.parquet").limit(1).count()
    out = {}
    for name in names or HEADLINE:
        fn = qs[name]
        # same methodology as bench.py: .count() of the declared query
        out[name] = _time(spark, f"q:{name}", lambda: fn(spark, sf_dir).count())
    print(json.dumps({k: v["min"] for k, v in out.items()}))


def cmd_minhash_stages(rows):
    from pyspark.sql import functions as F

    from bench import _docs_input
    from logstash_integration_jdbc_spark.operators import dedup

    spark = _spark()
    docs = spark.read.parquet(_docs_input(spark, rows))
    print(f"docs input partitions: {docs.rdd.getNumPartitions()}")

    spread = dedup._spread(docs, "doc_id", "text")
    _time(spark, "mh1: scan only", _noop(docs.select("doc_id", "text")))
    _time(spark, "mh2: spread (repartition)", _noop(spread))
    sh = dedup._shingled(spread, "doc_id", "text", 3)
    _time(spark, "mh3: spread+shingle", _noop(sh))
    sig = sh.withColumn("__sig", dedup.minhash_signature_udf(64)(F.col("__sh"))).select("doc_id", "__sig")
    _time(spark, "mh4: spread+shingle+signature", _noop(sig))
    bands = dedup.minhash_band_buckets(docs, "doc_id", "text", 3, 64, 16)
    _time(spark, "mh5: band keys (pre-exchange)", _noop(bands))
    cand_input = (bands.groupBy("__band", "__bucket")
                  .agg(F.sort_array(F.collect_list("doc_id")).alias("__ids"))
                  .filter(F.size("__ids") > 1))
    _time(spark, "mh6: +bucket groupBy", _noop(cand_input))

    def full():
        spark.catalog.clearCache()
        return (dedup.minhash_lsh_candidates(docs, num_hashes=64, bands=16)
                .filter(F.col("jaccard") >= 0.8).count())

    _time(spark, "mh7: full minhash_lsh_candidates", full)


def cmd_pipeline_stages(rows):
    import tempfile

    from pyspark.sql import functions as F

    from bench import _pipeline_input, run_pipeline_bench
    from logstash_integration_jdbc_spark.functions.parse import parse_tool_calls
    from logstash_integration_jdbc_spark.pipeline import (
        PipelineConfig,
        build_lookups,
        build_router,
    )
    from logstash_integration_jdbc_spark.sources.scan import (
        incremental_scan,
        partition_cursors,
    )

    from logstash_integration_jdbc_spark.sources.value_tracking import ValueTracker

    spark = _spark()
    data = _pipeline_input(spark, rows)
    raw = spark.read.parquet(f"{data}/transcripts.parquet")
    print(f"transcripts partitions: {raw.rdd.getNumPartitions()}")
    wm = ValueTracker(path=None, tracking_type="timestamp", clean_run=True).value
    cfg = PipelineConfig(
        transcripts_path=f"{data}/transcripts.parquet",
        tool_dim_path=f"{data}/tool_dim.parquet",
        role_dim_path=f"{data}/role_dim.parquet",
        out_dir=tempfile.mkdtemp(prefix="pstage-"),
        checkpoint_path=None, clean_run=True)

    scanned = incremental_scan(raw, "ts", wm)
    _time(spark, "p1: scan", _noop(scanned))
    parsed = parse_tool_calls(scanned)
    _time(spark, "p2: scan+parse", _noop(parsed))
    proc = build_lookups(spark, cfg)
    enriched = proc.enhance(parsed)
    _time(spark, "p3: scan+parse+enrich", _noop(enriched))
    router = build_router()
    routed = enriched.withColumn(
        "ts_hour", F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd-HH")
    ).withColumn("run_id", F.lit("x")).withColumn("sink", router.sink_expr())
    _time(spark, "p4: +route cols", _noop(routed))
    rebalanced = routed.hint("rebalance", F.col("sink"), F.col("ts_hour"), F.col("run_id"))
    _time(spark, "p5: +rebalance", _noop(rebalanced))

    def write_real():
        import shutil
        out = tempfile.mkdtemp(prefix="pstage-w-")
        rebalanced.write.mode("overwrite").partitionBy("sink", "ts_hour", "run_id").parquet(out)
        shutil.rmtree(out, ignore_errors=True)

    _time(spark, "p6: +parquet write (partitioned)", write_real)
    _time(spark, "p7: cursors job", lambda: partition_cursors(scanned, ts_col="ts"))
    _time(spark, "p8: full run_pipeline",
          lambda: run_pipeline_bench(spark, rows, warm=False, reps=1), reps=REPS)


def cmd_substring_stages(rows):
    from pyspark.sql import functions as F

    from bench import _docs_input
    from logstash_integration_jdbc_spark.operators import dedup

    spark = _spark()
    docs = spark.read.parquet(_docs_input(spark, rows))
    anch = dedup.winnow_anchors(docs, min_tokens=10, window=4)
    _time(spark, "ss1: winnow_anchors", _noop(anch))
    _time(spark, "ss2: full substring_dup_pairs",
          lambda: dedup.substring_dup_pairs(docs, min_tokens=10, window=4).count())


def cmd_perplexity_stages(rows):
    from pyspark.sql import functions as F

    from bench import _docs_input
    from logstash_integration_jdbc_spark.operators import lm

    spark = _spark()
    docs = spark.read.parquet(_docs_input(spark, rows))
    bg = lm.doc_bigrams(docs)
    _time(spark, "px1: doc_bigrams", _noop(bg))
    bc, cc, vocab = lm.bigram_model(docs)
    _time(spark, "px2: bigram_counts", _noop(bc))
    _time(spark, "px3: context_counts", _noop(cc))
    _time(spark, "px4: vocab", _noop(vocab))
    _time(spark, "px5: full perplexity", lambda: lm.perplexity(docs).count())


if __name__ == "__main__":
    cmd = sys.argv[1] if len(sys.argv) > 1 else "queries"
    if cmd == "queries":
        cmd_queries(sys.argv[2:])
    elif cmd == "minhash-stages":
        cmd_minhash_stages(int(sys.argv[2]) if len(sys.argv) > 2 else 1_000_000)
    elif cmd == "pipeline-stages":
        cmd_pipeline_stages(int(sys.argv[2]) if len(sys.argv) > 2 else 1_000_000)
    elif cmd == "substring-stages":
        cmd_substring_stages(int(sys.argv[2]) if len(sys.argv) > 2 else 1_000_000)
    elif cmd == "perplexity-stages":
        cmd_perplexity_stages(int(sys.argv[2]) if len(sys.argv) > 2 else 1_000_000)
    else:
        raise SystemExit(f"unknown command {cmd}")
