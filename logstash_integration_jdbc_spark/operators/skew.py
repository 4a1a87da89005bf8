"""Skew handling: salted repartitioning for hot keys.

The reference is single-threaded and has no notion of skew; at 10^12
turns a Zipf-hot ``conv_id`` melts any hash-partitioned exchange. Two
mitigations, used together:

- AQE skew-join splitting (`spark.sql.adaptive.skewJoin.enabled`, on by
  default in session.py) handles joins at runtime;
- explicit salting for writes/repartitions where AQE doesn't apply:
  partition by ``(extra_cols..., pmod(xxhash64(key, salt_bits), n))`` so
  one hot key spreads over ``n_salts`` tasks. The salt derives from
  xxhash64 of the key plus per-row columns, deterministic and RNG-free
  (a retried batch rewrites the same partitions).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salt_expr(key: str, n_salts: int, row_cols: Sequence[str] = ("turn_idx",)):
    """Deterministic salt in [0, n_salts): hash of key + row columns."""
    cols = [F.col(key)] + [F.col(c) for c in row_cols if c != key]
    return F.pmod(F.xxhash64(*cols), F.lit(n_salts))


def salted_repartition(
    df: DataFrame,
    key: str,
    n_salts: int = 8,
    extra_cols: Sequence[str] = (),
    num_partitions: int | None = None,
    with_key: bool = True,
) -> DataFrame:
    """Repartition on (extra_cols, key, salt) — hot keys spread n_salts-wide.

    The salt hashes the key with ``turn_idx``/``ts`` when the frame has
    them, else with every other hashable column, so rows of one hot key
    spread over up to n_salts salts (only rows identical outside the
    key share one).

    ``with_key=False`` drops the raw key COLUMN from the partitioning
    expression (the salt still derives from it, so a hot key still
    spreads n_salts-wide): partitioning degenerates to the
    (extra_cols, salt) group key, so each reduce task holds only the few
    groups that hash to it instead of a slice of EVERY group. For a
    dynamic-partitioned write that bounds output files at
    groups × n_salts instead of tasks × groups (guide §6 small-files),
    whatever each group's size. A write that should size its files by
    bytes wants a rebalance on ``extra_cols`` instead, as
    ``Router.write_all`` does. Keep ``with_key=True`` when downstream
    needs rows of one key clustered or a uniform row-level spread.
    """
    unhashable = ("map<", "variant")  # types xxhash64 rejects
    row_cols = [c for c in ("turn_idx", "ts") if c in df.columns] or [
        "`" + f.name.replace("`", "``") + "`" for f in df.schema.fields
        if f.name != key
        and not any(u in f.dataType.simpleString() for u in unhashable)]
    salt = salt_expr(key, n_salts, row_cols).alias("__salt")
    cols = [F.col(c) for c in extra_cols] + ([F.col(key)] if with_key else []) + [salt]
    if num_partitions is None and not with_key:
        # Without the key column the exchange has only dirs × salts
        # distinct groups; at 1× cores a task drawing several of the
        # big groups becomes the write straggler. 2× cores halves the
        # group-per-task quantization and lets short tasks backfill
        # (guide §2.6) — measured (interleaved A/B, 8M-row sink write):
        # 1× 10.1 s / 2× 8.6 s / 4× 10.0 s; at 1M rows 1× wins by
        # ~0.7 s but 2× is the only setting with no regression at
        # either size. The per-dir FILE bound is unchanged
        # (≤ n_salts: each (dir, salt) group lands in exactly one task).
        num_partitions = 2 * df.sparkSession.sparkContext.defaultParallelism
    elif num_partitions is None:
        # An explicit count pins the exchange: repartition(cols) without N
        # lets AQE rebalance to ~advisory-sized (64 MB) partitions, which
        # caps downstream stage parallelism at data-size/64MB tasks — on a
        # wide executor that leaves most cores idle (measured: a 519 MB
        # write ran ~10 tasks on 32 cores). 1× cores feeds every core;
        # 2× cores measured consistently SLOWER on the fan-out write
        # (64 vs 32 reducers at 1M rows: ~9-16s vs ~5-10s) — each extra
        # reducer multiplies dynamic-partition writer files (tasks × dirs)
        # and per-task sort/flush overhead without adding parallelism.
        num_partitions = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(num_partitions, *cols)
