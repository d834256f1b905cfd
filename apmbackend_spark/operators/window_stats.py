"""Sliding-window throughput/latency statistics — the reference's statistical
core (SURVEY.md A1-A5; reference ``stream_calc_stats.js:89-203``).

Semantics re-expressed Spark-first:
  * A1 10 s tumbling bucket on endts (reference :89-101) — Spark's
    `window(endtime, slide)` does the identical epoch-aligned flooring.
  * A2 5-min sliding window per (server, service) — `window(endtime,
    '300 seconds', '10 seconds')`: each event belongs to 30 sliding windows,
    grouped and aggregated in one shuffle.
  * A3 tpm = count / 5.0 (reference :186 — denominator is always the full
    window length in minutes).
  * A4 mean elapsed = exact integer SUM / COUNT (reference :162-184).
  * A5 exact p75/p95 with the midpoint rule (reference util_methods.js:112-142)
    over `sort_array(collect_list(elapsed))`.

Batch and stream run this one definition: ``streaming/pipeline.py::
window_stats_stream`` is `window_stats` over a watermarked stream.

Physical plan: an Expand that gives each event its window/slide sliding
windows, then a single hash-partitioned shuffle on (server, service,
window) with map-side partial aggregation for count/sum; the collect_list
for exact percentiles is bounded by per-key-per-window traffic, not data
volume. At the benchmark's event densities this one-shuffle form beats a
10 s bucket pre-rollup; SCALE.md records where the rollup would win.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from apmbackend_spark.functions.percentile import (
    midpoint_percentile,
    midpoint_percentile_sql,
)

WINDOW_MS = 300_000
SLIDE_MS = 10_000


def window_stats(
    tx: DataFrame,
    window: str = "300 seconds",
    slide: str = "10 seconds",
) -> DataFrame:
    """One row per (server, service, sliding window) with tpm/avg/p75/p95."""
    minutes = _duration_minutes(window)
    return (
        tx.groupBy("server", "service", F.window(F.col("endtime"), window, slide))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("elapsed").alias("_sum"),
            F.sort_array(F.collect_list("elapsed")).alias("_arr"),
        )
        .select(
            "server",
            "service",
            F.unix_millis("window.start").alias("win_start"),
            "cnt",
            (F.col("cnt") / F.lit(minutes)).alias("tpm"),
            (F.col("_sum").cast("double") / F.col("cnt")).alias("avg_ms"),
            midpoint_percentile(F.col("_arr"), 75).alias("p75"),
            midpoint_percentile(F.col("_arr"), 95).alias("p95"),
        )
    )


def window_stats_oracle_ctes(window_ms: int = WINDOW_MS, slide_ms: int = SLIDE_MS) -> str:
    """DuckDB twin as composable CTEs (appends to TX_CTE): expand each tx row
    into its window_ms/slide_ms sliding windows, aggregate identically into a
    `winstats` CTE."""
    n_windows = window_ms // slide_ms
    minutes = window_ms / 60_000.0
    p75 = midpoint_percentile_sql("list_sort(list(elapsed))", 75)
    p95 = midpoint_percentile_sql("list_sort(list(elapsed))", 95)
    return f"""
, expanded AS (
    SELECT t.*, ((t.endts // {slide_ms}) - k.k) * {slide_ms} AS win_start
    FROM tx t CROSS JOIN (SELECT range AS k FROM range({n_windows})) k
), winstats AS (
    SELECT server, service, win_start,
           COUNT(*) AS cnt,
           COUNT(*) / {minutes!r} AS tpm,
           CAST(SUM(elapsed) AS DOUBLE) / COUNT(*) AS avg_ms,
           {p75} AS p75,
           {p95} AS p95
    FROM expanded
    GROUP BY server, service, win_start
)"""


def window_stats_oracle_sql(window_ms: int = WINDOW_MS, slide_ms: int = SLIDE_MS) -> str:
    return window_stats_oracle_ctes(window_ms, slide_ms) + "\nSELECT * FROM winstats"


def _duration_minutes(window: str) -> float:
    qty, unit = window.split()
    seconds = {"seconds": 1, "second": 1, "minutes": 60, "minute": 60}[unit] * int(qty)
    return seconds / 60.0
