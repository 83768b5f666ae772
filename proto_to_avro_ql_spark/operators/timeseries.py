"""Time-series repair operators: forward-fill imputation and
fixed-grid resampling (feature-pipeline staples the reference's
row-at-a-time translator cannot express — they need ordered,
cross-row context).

Scale design:
- Forward-fill is ONE window shuffle keyed by the entity
  (``last(..., ignorenulls=True)`` over an unbounded-preceding row
  frame — Spark evaluates it incrementally, O(1) memory per row, no
  per-row lookback scan).
- Resampling builds each entity's dense grid with ``sequence`` +
  ``explode`` off a per-entity min/max aggregate — grid size is
  (span / step) per entity, generated distributed, never on the
  driver — then left-joins the sparse aggregates back on
  (entity, bucket). Both sides of that join are already bucketed by
  the same key, and AQE coalesces the tiny post-join partitions.
- The daily revenue series (integer cents per event type and day) is
  written once here, as a Spark builder plus its DuckDB twin; every
  series entry (CUSUM, autocorrelation, OLS/Theil-Sen trends, ...)
  starts from it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from proto_to_avro_ql_spark.functions.stable import DEC
from proto_to_avro_ql_spark.operators.windows import event_totals
from proto_to_avro_ql_spark.sources.io import read_table


def daily_cents(spark: SparkSession, sf_dir: str, alias: str) -> DataFrame:
    """(event_type, day, <alias>): revenue per event type and day in
    integer cents. The sum is DECIMAL(38,6) (partition-order
    independent), rounded half-up to whole cents once."""
    ev = read_table(spark, sf_dir, "events")
    return ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(
        F.round(F.sum(F.col("value").cast(DEC)) * 100, 0).cast("long").alias(alias)
    )


def daily_cents_sql(alias: str) -> str:
    """DuckDB twin of :func:`daily_cents`: the CTE ``d``."""
    return f"""d AS MATERIALIZED (
         SELECT event_type, CAST(ts AS DATE) AS day,
                CAST(ROUND(SUM(CAST(value AS DECIMAL(38,6))) * 100, 0)
                     AS BIGINT) AS {alias}
         FROM events GROUP BY 1, 2
       )"""


def forward_fill(
    df: DataFrame,
    value: Column,
    key_col: str = "user_id",
    order_cols: tuple[str, ...] = ("ts", "event_id"),
) -> Column:
    """Last non-null ``value`` per ``key_col`` up to the current row
    (deterministic total order via ``order_cols``). Returns the filled
    column; rows before the first non-null stay null (the caller
    chooses a default)."""
    w = (
        Window.partitionBy(key_col)
        .orderBy(*[F.col(c) for c in order_cols])
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return F.last(value, ignorenulls=True).over(w)


def resample_daily(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-entity dense daily grid from the entity's first to last
    observed day; days with no events report n_events=0 and a null sum
    (COUNT/SUM outer-join semantics — the classic gap-filling shape).
    The per-day figures are the event totals of operators/windows.py.

    Output: key, day (ISO string), n_events, sum_value.
    """
    day = F.date_trunc("day", F.col(ts_col))
    sparse = events.groupBy(F.col(key_col), day.alias("_day")).agg(*event_totals())
    spans = events.groupBy(key_col).agg(
        F.date_trunc("day", F.min(ts_col)).alias("_d0"),
        F.date_trunc("day", F.max(ts_col)).alias("_d1"),
    )
    grid = spans.select(
        key_col,
        F.explode(
            F.sequence("_d0", "_d1", F.expr("interval 1 day"))
        ).alias("_day"),
    )
    return (
        grid.join(sparse, [key_col, "_day"], "left")
        .select(
            key_col,
            F.date_format("_day", "yyyy-MM-dd").alias("day"),
            F.coalesce(F.col("n_events"), F.lit(0)).alias("n_events"),
            F.col("sum_value"),
        )
    )
