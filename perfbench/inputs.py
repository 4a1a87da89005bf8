"""Seeded inputs for the workloads, generated with
``sources.generator`` and cached per (workload, size, seed) under the
checkout's ``.perfbench/cache``. The program under test only ever reads
the generated parquet."""

from __future__ import annotations

import os
import shutil

import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from logstash_integration_jdbc_spark.sources.generator import (
    gen_docs,
    gen_role_dim,
    gen_tool_dim,
    gen_transcripts,
)

# Traffic dimensions. The transcript shares are the generator's defaults:
# 20% of turns on 3 hot conversations, 85% parse hits, 10% null and 10%
# unknown tools, 2% late rows.
BASE_ROWS = 100_000  # the table of the clean batches and the base commit
EVENT_SPAN_S = 4 * 3600.0  # the base is dense in event time: ~4 hours
DELTA_ROWS = 125
DELTA_RATE_PER_S = 8.0  # deltas per second, fixed-rate open loop

DOCS = 8_000
DOC_DUP_EVERY = 50  # gen_docs plants (id-1, id) for id % 50 == 1
CLUSTERS = 4  # planted multi-copy clusters ...
CLUSTER_SIZE = 100  # ... of this many near-copies each


def _done(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_DONE"))


def _publish(tmp: str, final: str) -> str:
    with open(os.path.join(tmp, "_DONE"), "w") as fh:
        fh.write("ok")
    shutil.rmtree(final, ignore_errors=True)
    os.replace(tmp, final)
    return final


def _fresh(cache: str, name: str) -> tuple[str, str]:
    final = os.path.join(cache, name)
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    return tmp, final


def pipeline(spark, cache: str, n_deltas: int, seed: int) -> str:
    """Base table (``base/``, four files), ``n_deltas`` single-file deltas
    (``deltas/``) and both dimensions. Base and deltas are cut from ONE
    generated table by generation row id, so ``turn_idx`` stays unique per
    conversation and event time keeps advancing from the base through
    every delta, late rows included."""
    name = f"pipeline-{BASE_ROWS}-{DELTA_ROWS}x{n_deltas}-s{seed}"
    final = os.path.join(cache, name)
    if _done(final):
        return final
    tmp, final = _fresh(cache, name)
    total = BASE_ROWS + n_deltas * DELTA_ROWS
    # every generated text carries its generation row id ("turn <id>:" or
    # "free-form reflection <id> ...")
    rid = F.regexp_extract("text", r"^(?:turn|free-form reflection) (\d+)", 1).cast("long")
    df = gen_transcripts(spark, n_rows=total, seed=seed,
                         avg_gap_s=EVENT_SPAN_S / BASE_ROWS).withColumn("__rid", rid)
    df = df.withColumn(
        "__delta",
        F.when(F.col("__rid") < BASE_ROWS, F.lit(-1)).otherwise(
            ((F.col("__rid") - BASE_ROWS) / DELTA_ROWS).cast("int")),
    ).cache()
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
    df.filter("__delta = -1").select(*cols).repartition(4).write.parquet(f"{tmp}/base")
    # the deltas are small: one Arrow table, cut into one file each
    staged = df.filter("__delta >= 0").select(*cols, "__delta").toArrow()
    df.unpersist()
    os.makedirs(f"{tmp}/deltas")
    for k in range(n_deltas):
        part = staged.filter(pc.equal(staged["__delta"], k)).drop_columns(["__delta"])
        if part.num_rows != DELTA_ROWS:
            raise RuntimeError(f"delta {k}: {part.num_rows} rows, expected {DELTA_ROWS}")
        pq.write_table(part, f"{tmp}/deltas/delta-{k:05d}.parquet")
    gen_tool_dim(spark).write.parquet(f"{tmp}/tool_dim.parquet")
    gen_role_dim(spark).write.parquet(f"{tmp}/role_dim.parquet")
    return _publish(tmp, final)


def cluster_bases(n_docs: int) -> list[int]:
    """Doc ids that seed the clusters: id % 50 == 25, so none of them is
    part of a gen_docs planted pair."""
    step = n_docs // CLUSTERS
    return [(j * step) - (j * step) % DOC_DUP_EVERY + 25 for j in range(CLUSTERS)]


def docs(spark, cache: str, n_docs: int, seed: int) -> str:
    """gen_docs corpus (2% planted near-dup pairs) plus CLUSTERS clusters
    of CLUSTER_SIZE near-copies: copy c of cluster j is the base doc with
    its last token replaced, doc id ``n_docs + j*(CLUSTER_SIZE-1) + c``.
    Every two members of a cluster share 22 of 24 distinct word
    trigrams (jaccard 0.917) and a 24-token exact run, so both
    operators must report all of them and some LSH band buckets hold
    about CLUSTER_SIZE ids."""
    name = f"docs-{n_docs}-c{CLUSTERS}x{CLUSTER_SIZE}-s{seed}"
    final = os.path.join(cache, name)
    if _done(final):
        return final
    tmp, final = _fresh(cache, name)
    base = gen_docs(spark, n_rows=n_docs, seed=seed, dup_every=DOC_DUP_EVERY)
    seeds = spark.createDataFrame(list(enumerate(cluster_bases(n_docs))), "j int, doc_id long")
    copies = (
        base.join(F.broadcast(seeds), "doc_id")
        .crossJoin(spark.range(CLUSTER_SIZE - 1).withColumnRenamed("id", "c"))
        .select(
            (F.lit(n_docs) + F.col("j") * (CLUSTER_SIZE - 1) + F.col("c")).alias("doc_id"),
            F.concat(
                F.regexp_replace("text", r" \S+$", " "),
                F.format_string("c%d_%d_%d", F.col("j"), F.col("c"), F.lit(seed)),
            ).alias("text"),
        )
    )
    base.unionByName(copies).repartition(4).write.parquet(f"{tmp}/documents.parquet")
    return _publish(tmp, final)
