"""Time-window operators (SURVEY.md section 2.5) plus analytic windows.

W1 — tumbling event-time window (TUMBLE ... INTERVAL '1' MINUTE,
flink-jobs/sensor_aggregation.py:94-96); W2 — sliding/HOP window
(1 min / 30 s, sensor_aggregation.py:100-117 + PDF Task 3 req 3);
session windows and ranking/analytic frames are the natural extension
(SURVEY.md section 2.5 note).

These are the BATCH forms — the same ``F.window`` expression drives the
streaming jobs in streaming.jobs, which is exactly why batch/streaming
parity (PDF Task 4.2) holds by construction.

Scale notes: ``window()`` is a generated column + hash aggregate; for
tumbling windows each row maps to one bucket (no blow-up).  Sliding
windows expand each row into size/slide buckets *before* the partial
aggregate — at 100 TB prefer the tumbling form at `slide` granularity and
re-aggregate buckets into the sliding frame when the agg is algebraic
(avg/min/max/count all are); `sliding_rollup` keeps Spark's native form
since the expansion factor here is 2.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

from .aggregates import ROLLUP_AGGS

__all__ = [
    "windowed_rollup",
    "tumbling_rollup",
    "sliding_rollup",
    "session_rollup",
    "analytic_over",
]


def _flatten_window(df: DataFrame) -> DataFrame:
    """Expose the window struct as the sink-table columns window_start /
    window_end (init-db.sql:25-26)."""
    cols = [c for c in df.columns if c != "window"]
    return df.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        *cols,
    )


def windowed_rollup(
    df: DataFrame,
    time_col: str,
    duration: str,
    slide: str | None = None,
    group_cols: list[str] | None = None,
    value_col: str = "value",
) -> DataFrame:
    """The reference's core computation: AVG/MIN/MAX/COUNT per
    (time window x group keys).  duration/slide strings are Spark interval
    syntax ('1 minute', '30 seconds')."""
    group_cols = group_cols or []
    w = (
        F.window(time_col, duration)
        if slide is None
        else F.window(time_col, duration, slide)
    )
    out = df.groupBy(w.alias("window"), *group_cols).agg(*ROLLUP_AGGS(value_col))
    return _flatten_window(out)


def tumbling_rollup(
    df: DataFrame, time_col: str, duration: str, group_cols: list[str], value_col: str = "value"
) -> DataFrame:
    """W1: tumbling window rollup (sensor_aggregation.py:83-98)."""
    return windowed_rollup(df, time_col, duration, None, group_cols, value_col)


def sliding_rollup(
    df: DataFrame,
    time_col: str,
    duration: str,
    slide: str,
    group_cols: list[str],
    value_col: str = "value",
) -> DataFrame:
    """W2: sliding (HOP) window rollup — each row contributes to
    duration/slide overlapping windows (sensor_aggregation.py:100-117)."""
    return windowed_rollup(df, time_col, duration, slide, group_cols, value_col)


def session_rollup(
    df: DataFrame,
    time_col: str,
    gap: str | Column,
    group_cols: list[str],
    value_col: str = "value",
) -> DataFrame:
    """Session windows (extension; Flink offers SESSION, the reference never
    uses it).  Gap-based merging via Spark's native session_window; a
    Column ``gap`` gives dynamic per-event gaps."""
    out = df.groupBy(
        F.session_window(time_col, gap).alias("window"), *group_cols
    ).agg(*ROLLUP_AGGS(value_col))
    return _flatten_window(out)


def analytic_over(
    partition_by: list[str], order_by: list[str], rows_between: tuple[int, int] | None = None
) -> WindowSpec:
    """Analytic-window spec builder (ROW_NUMBER/LAG/moving aggregates —
    extended surface, SURVEY.md section 2.5 note)."""
    spec = Window.partitionBy(*partition_by).orderBy(*order_by)
    if rows_between is not None:
        spec = spec.rowsBetween(*rows_between)
    return spec
