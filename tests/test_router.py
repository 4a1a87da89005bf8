"""Tag-routing fan-out (R4) + loader guard (S9) + skew salting."""

from __future__ import annotations

import contextlib
import os

import pytest
from pyspark.sql import functions as F

from logstash_integration_jdbc_spark.operators.router import Route, Router
from logstash_integration_jdbc_spark.operators.skew import salted_repartition
from logstash_integration_jdbc_spark.sources.loader import DimensionLoader, LoaderError


@pytest.fixture()
def tagged(spark):
    rows = [("c1", 0, ["_default"]), ("c1", 1, []), ("c2", 0, ["_failure"]),
            ("c2", 1, ["_default", "_failure"])]
    return spark.createDataFrame(rows, "conv_id string, turn_idx int, tags array<string>")


def test_exclusive_first_match_wins(tagged):
    r = Router([
        Route("failed", F.array_contains("tags", "_failure")),
        Route("defaults", F.array_contains("tags", "_default")),
    ], default_sink="ok")
    sinks = {k: {(x.conv_id, x.turn_idx) for x in v.collect()} for k, v in r.split(tagged).items()}
    assert sinks["failed"] == {("c2", 0), ("c2", 1)}
    assert sinks["defaults"] == {("c1", 0)}  # (c2,1) already claimed by failed
    assert sinks["ok"] == {("c1", 1)}


def test_non_exclusive_multicast(tagged):
    r = Router([
        Route("failed", F.array_contains("tags", "_failure")),
        Route("defaults", F.array_contains("tags", "_default")),
    ], default_sink=None, exclusive=False)
    sinks = {k: v.count() for k, v in r.split(tagged).items()}
    assert sinks == {"failed": 2, "defaults": 2}


def test_partition_totals_preserved(tagged):
    r = Router([Route("d", F.array_contains("tags", "_default"))])
    assert sum(df.count() for df in r.split(tagged).values()) == tagged.count()


def test_duplicate_sink_names_rejected():
    with pytest.raises(ValueError):
        Router([Route("a", F.lit(True)), Route("a", F.lit(False))])


def test_write_layout_hour_partitioned(spark, tmp_path, transcripts):
    df = transcripts.limit(2000).withColumn("tags", F.array().cast("array<string>"))
    r = Router([Route("all", F.lit(True))], default_sink=None)
    counts = r.write_all(df, str(tmp_path))
    assert counts["all"] == 2000
    parts = os.listdir(str(tmp_path / "sink=all"))
    assert any(p.startswith("ts_hour=") for p in parts)
    back = spark.read.parquet(str(tmp_path / "sink=all"))
    assert back.count() == 2000


def test_salted_repartition_spreads_hot_key(spark):
    df = spark.range(0, 10000).select(
        F.lit("hot").alias("conv_id"), F.col("id").cast("int").alias("turn_idx")
    )
    out = salted_repartition(df, "conv_id", n_salts=8, num_partitions=8)
    sizes = [r.n for r in out.groupBy(F.spark_partition_id().alias("p"))
             .agg(F.count(F.lit(1)).alias("n")).collect()]
    # a plain repartition("conv_id") puts all 10k rows in ONE partition;
    # salting must spread them across several.
    assert len(sizes) >= 4
    assert max(sizes) < 10000 * 0.5


def test_loader_guards(spark):
    empty = DimensionLoader("e", lambda: spark.range(0).selectExpr("id as k"))
    with pytest.raises(LoaderError, match="0 rows"):
        empty.get()
    big = DimensionLoader("b", lambda: spark.range(100).selectExpr("id as k"), max_rows=10)
    with pytest.raises(LoaderError, match="max_rows"):
        big.get()
    ok = DimensionLoader("ok", lambda: spark.range(5).selectExpr("id as k"), max_rows=10)
    assert ok.get().count() == 5
    assert ok.reload_count == 1
    ok.refresh()
    assert ok.reload_count == 2  # S13 repeated load metric


@pytest.fixture()
def enriched(spark, transcripts):
    from logstash_integration_jdbc_spark.functions.parse import parse_tool_calls

    return parse_tool_calls(transcripts.limit(2000)).withColumn(
        "tags", F.array().cast("array<string>")
    )


def test_write_all_format_pluggable_json(spark, enriched, tmp_path):
    """`fmt` must plug any DataSource format into the same single-pass
    fan-out (Iceberg constraint documented in README; json proves the
    writer is not parquet-bound)."""
    base = str(tmp_path / "sinks_json")
    router = Router(
        routes=[Route("matched", F.col("parse_ok"))], default_sink="other"
    )
    counts = router.write_all(enriched, base, fmt="json")
    back = spark.read.json(f"{base}/sink=matched")
    assert back.count() == counts["matched"] > 0


def test_write_all_catalog_table_v2(spark, enriched, tmp_path):
    """catalog_table routes through DataFrameWriterV2 (the Iceberg API
    shape): create-partitioned on first write, overwritePartitions on
    rerun — identical contents after an idempotent rerun."""
    router = Router(
        routes=[Route("matched", F.col("parse_ok"))], default_sink="other"
    )
    tbl = "spark_catalog.default.router_sinks_t"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    import shutil
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(f"{wh}/router_sinks_t", ignore_errors=True)
    counts = router.write_all(enriched, base_dir="", catalog_table=tbl, run_id="r1")
    n1 = spark.table(tbl).count()
    assert n1 == sum(counts.values()) > 0
    # rerun of the same batch must not duplicate (dynamic overwrite)
    router.write_all(enriched, base_dir="", catalog_table=tbl, run_id="r1")
    assert spark.table(tbl).count() == n1
    parts = {r.sink for r in spark.table(tbl).select("sink").distinct().collect()}
    assert parts == set(counts) - {k for k, v in counts.items() if v == 0}
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")


@pytest.mark.skipif(
    not os.environ.get("ICEBERG_JARS"),
    reason="Iceberg runtime verification: set ICEBERG_JARS=/path/to/"
           "iceberg-spark-runtime-<ver>.jar and run this test alone "
           "(it builds its own SparkSession with the jars + catalog)",
)
def test_iceberg_catalog_table_end_to_end(tmp_path):
    """One-command readiness check for a real lakehouse deployment:
    the same write_all(catalog_table=...) used by the pipeline, against
    a genuine Iceberg hadoop catalog — create, then idempotent
    overwritePartitions rerun. Run standalone:

        ICEBERG_JARS=/path/iceberg-spark-runtime-3.5_2.13-1.5.0.jar \
            python -m pytest tests/test_router.py -k iceberg -q
    """
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        pytest.skip("needs a fresh JVM: run this test alone")
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("iceberg-verify")
        .config("spark.jars", os.environ["ICEBERG_JARS"])
        .config("spark.sql.extensions",
                "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions")
        .config("spark.sql.catalog.ice", "org.apache.iceberg.spark.SparkCatalog")
        .config("spark.sql.catalog.ice.type", "hadoop")
        .config("spark.sql.catalog.ice.warehouse", str(tmp_path / "wh"))
        .getOrCreate()
    )
    try:
        df = spark.range(100).select(
            F.concat(F.lit("c"), (F.col("id") % 7).cast("string")).alias("conv_id"),
            F.col("id").alias("turn_idx"),
            F.when(F.col("id") % 3 == 0, "a").otherwise("b").alias("kind"),
            F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("ts"),
        )
        router = Router(routes=[Route("a", F.col("kind") == "a")],
                        default_sink="other")
        tbl = "ice.db.sinks"
        counts = router.write_all(df, base_dir="", catalog_table=tbl,
                                  run_id="r1")
        assert spark.table(tbl).count() == sum(counts.values()) == 100
        # rerun same run_id → V2 overwritePartitions, not duplication
        router.write_all(df, base_dir="", catalog_table=tbl,
                         run_id="r1")
        assert spark.table(tbl).count() == 100
        # Iceberg metadata must exist (proves the V2 path, not a v1 fallback)
        assert (tmp_path / "wh" / "db" / "sinks" / "metadata").exists()
    finally:
        spark.stop()


def test_salted_repartition_with_key_false_spreads_and_bounds_files(
        spark, tmp_path, transcripts):
    # The router's write exchange rebalances on the partition-dir
    # columns alone, so a dir below the AQE advisory size lands in one
    # reduce task → exactly one file per dir, for the single-pass
    # exclusive write and for each sink of the multicast write.
    df = transcripts.limit(4000).withColumn("tags", F.array().cast("array<string>"))
    for exclusive in (True, False):
        r = Router([Route("all", F.lit(True))], default_sink=None,
                   exclusive=exclusive)
        out_dir = tmp_path / f"exclusive={exclusive}"
        counts = r.write_all(df, str(out_dir))
        assert counts["all"] == 4000
        base = out_dir / "sink=all"
        hour_dirs = os.listdir(base)
        assert len(hour_dirs) > 1
        for hour_dir in hour_dirs:
            files = [f for f in os.listdir(base / hour_dir)
                     if f.endswith(".parquet")]
            assert len(files) == 1, (exclusive, hour_dir, files)
    # the hot-key spread is preserved: the salt still derives from the
    # key + row columns, so one hot conv_id spans several salts
    hot = df.withColumn("conv_id", F.lit("hot"))
    out = salted_repartition(hot, "conv_id", n_salts=8, num_partitions=8,
                             with_key=False)
    sizes = [r2.n for r2 in out.groupBy(F.spark_partition_id().alias("p"))
             .agg(F.count(F.lit(1)).alias("n")).collect()]
    assert len([s for s in sizes if s > 0]) >= 4
    assert max(sizes) < 4000 * 0.5


def test_salted_repartition_spreads_hot_key_without_row_columns(spark):
    # neither turn_idx nor ts: the salt falls back to the row's other
    # hashable columns (not map/variant) instead of a constant per key
    hot = spark.range(0, 4000).select(
        F.lit("hot").alias("conv_id"), F.col("id").alias("payload"),
        F.create_map(F.lit("k"), F.col("id")).alias("attrs"),
        F.parse_json(F.lit('{"a": 1}')).alias("doc"))
    out = salted_repartition(hot, "conv_id", n_salts=8, with_key=False)
    parts = out.select(F.spark_partition_id().alias("p")).distinct().count()
    assert parts > 1
    again = salted_repartition(hot, "conv_id", n_salts=8, with_key=False)
    placed = out.select("payload", F.spark_partition_id().alias("p"))
    assert placed.exceptAll(
        again.select("payload", F.spark_partition_id().alias("p"))).count() == 0


@contextlib.contextmanager
def _sql_conf(spark, **conf):
    prev = {k: spark.conf.get(k) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_write_all_splits_dir_above_advisory_size(spark, tmp_path):
    # A dir whose shuffle data passes the advisory partition size is
    # split by AQE's rebalance skew rule over several tasks and files;
    # the split moves no row between dirs.
    from logstash_integration_jdbc_spark.sources.generator import gen_transcripts

    src = str(tmp_path / "src")
    gen_transcripts(spark, n_rows=100_000, seed=7).repartition(4).write.parquet(src)
    df = spark.read.parquet(src).withColumn("tags", F.array().cast("array<string>"))
    assert len([f for f in os.listdir(src) if f.endswith(".parquet")]) >= 4
    r = Router([Route("all", F.lit(True))], default_sink=None)
    with _sql_conf(spark, **{
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "256k",
            "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k"}):
        counts = r.write_all(df, str(tmp_path / "out"))
    assert counts["all"] == 100_000
    base = tmp_path / "out" / "sink=all"
    files = {d: [f for f in os.listdir(base / d) if f.endswith(".parquet")]
             for d in os.listdir(base)}
    assert max(len(fs) for fs in files.values()) > 1, files
    want = {r2.h: r2.n for r2 in df.groupBy(
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd-HH").alias("h"))
        .agg(F.count(F.lit(1)).alias("n")).collect()}
    got = {r2.ts_hour: r2.n for r2 in spark.read.parquet(str(base))
           .groupBy(F.col("ts_hour").cast("string").alias("ts_hour"))
           .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert got == want
