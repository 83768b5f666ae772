"""Event-time window operators (SURVEY.md §2.9 ext_window_agg /
ext_window_rank) — the batch forms; the streaming variants live in
proto_to_avro_ql_spark.streaming. The per-(window, event_type) event
totals are written once here, as ``event_totals`` (Spark) and
``event_totals_sql`` (DuckDB), for every windowed entry and oracle.

Scale notes: tumbling-window agg shuffles once on (window, event_type)
with map-side partials; the ranking window shuffles once on user_id.
Both keys are high-cardinality and unskewed here; for skewed users
(bot traffic) AQE skew-join/salting applies.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from proto_to_avro_ql_spark.functions.stable import dec_avg, dec_sum


def event_totals() -> list[Column]:
    """The per-group event totals every windowed entry reports:
    ``n_events`` (all rows) and ``sum_value``, the DECIMAL(38,6) sum of
    ``value`` rounded half-up to 4 places (null values are skipped; an
    all-null group sums to null)."""
    return [F.count(F.lit(1)).alias("n_events"), dec_sum("value", 4).alias("sum_value")]


def event_totals_sql() -> str:
    """DuckDB select-list twin of :func:`event_totals`."""
    return (
        "COUNT(*) AS n_events, "
        "CAST(ROUND(SUM(CAST(value AS DECIMAL(38,6))), 4) AS DOUBLE) AS sum_value"
    )


def _window_totals(events: DataFrame, w: Column) -> DataFrame:
    """Per (window ``w``, event_type): the event totals and avg(value),
    the window rendered as its ISO start string for portability."""
    return (
        events.groupBy(w.alias("w"), F.col("event_type"))
        .agg(*event_totals(), dec_avg("value", 6).alias("avg_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
            "avg_value",
        )
    )


def tumbling_window_agg(events: DataFrame, duration: str = "1 hour") -> DataFrame:
    """Per (tumbling window, event_type): count, sum(value), avg(value)."""
    return _window_totals(events, F.window("ts", duration))


def sliding_window_agg(
    events: DataFrame, duration: str = "2 hours", slide: str = "1 hour"
) -> DataFrame:
    """Hopping-window aggregation: each event contributes to
    duration/slide overlapping windows (Spark's window() generates the
    window set per row — a bounded explode, factor = duration/slide;
    the aggregation itself is the same map-side-partial hash agg as
    tumbling). Same output schema as tumbling_window_agg."""
    return _window_totals(events, F.window("ts", duration, slide))


def latest_event_per_user(events: DataFrame) -> DataFrame:
    """ext_window_rank: per-user latest event (row_number over ts desc,
    event_id desc tiebreak for determinism)."""
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        events.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            "event_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_str"),
            "event_type",
            "value",
        )
    )


def sessionize(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Gap-based sessionization: a new session starts when a user's
    inter-event gap exceeds ``gap_minutes``. session_seq is the running
    count of session starts per user (classic lag + cumulative sum —
    two window passes over one shuffle on user_id).

    Scale notes: both windows share the (user_id, ts) partitioning/sort,
    so Catalyst plans ONE exchange + sort; state per group is O(1).
    """
    w_order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w_order)
    is_start = F.when(
        prev_ts.isNull()
        | ((F.unix_timestamp("ts") - F.unix_timestamp(prev_ts)) > gap_minutes * 60),
        1,
    ).otherwise(0)
    w_cum = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return events.select(
        "user_id",
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_str"),
        F.sum(is_start).over(w_cum).alias("session_seq"),
    )
