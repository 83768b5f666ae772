"""Structured Streaming layer (SURVEY.md §2.9 ext_window_agg streaming
variant; reference analog: the lazy gRPC row stream, Main.scala:60-66).

The reference consumes a server-side stream as a lazy iterator with no
state or watermarks; the Spark-native upgrade is a real readStream with
event-time tumbling windows and late-data watermarking. Tests drive it
with ``trigger(availableNow=True)`` over the parquet events table and
assert the result equals the batch operator — the Kappa-architecture
consistency check.

Scale notes: watermark + append output keeps state bounded (windows
close and evict); the aggregation shuffles on (window, event_type) with
partial aggregation, identical to the batch plan.
"""

from __future__ import annotations

import contextlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from proto_to_avro_ql_spark.functions.portable import ntz_from_micros
from proto_to_avro_ql_spark.functions.stable import dec_avg, dec_sum

# Stateful streaming queries pin their state-partition count from
# spark.sql.shuffle.partitions at first start (it is burned into the
# checkpoint), and AQE never coalesces a stateful stream's exchanges —
# partition coalescing is disabled for stateful operators so state
# placement stays stable across batches. Every state partition then
# carries FIXED per-micro-batch overhead: the HDFS-backed provider
# commits a delta file per store instance per batch (a stream-stream
# join holds four store instances per partition), plus provider init,
# snapshot maintenance and coordinator RPC. With watermark-bounded
# MB-scale state, 32 partitions = 128 join-store instances whose
# per-batch fixed costs ARE the runtime (measured r12: stream-stream
# join 20.7 s -> 2.3 s, dedup 5.1 -> 1.1 s at 8 partitions, identical
# results). Size state partitions to STATE VOLUME (~100 MB-1 GB per
# partition, the usual shuffle-partition sizing), not to core count:
# 8 suits the bench's MB-scale state at any core count; a production
# job with TB-scale state wants hundreds+.
STREAM_STATE_PARTITIONS = 8


@contextlib.contextmanager
def stream_state_partitions(spark: SparkSession):
    """Scope spark.sql.shuffle.partitions to the state-volume-sized
    streaming value while a streaming query is defined and started;
    restore the batch setting after. The running query keeps its own
    conf snapshot, so restoring post-start is safe."""
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", STREAM_STATE_PARTITIONS)
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),  # epoch micros
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet (file-source streaming — the
    local analog of a Kafka/Kinesis source; swap `.format` in prod).

    ``ts`` is the instant ``timestamp_micros(epoch micros)``, not the
    batch reader's timestamp_ntz: a watermark needs a zoned timestamp.
    Its epoch micros are the stored wall clock read as UTC, so
    rendering it goes through ``portable.ntz_from_micros``, never the
    session timezone."""
    # file stream sources monitor a directory; select just the events
    # table out of the shared sf_dir with a glob filter.
    raw = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    # An explicit LongType schema over the TIMESTAMP(MICROS) parquet
    # column reads the raw epoch micros.
    return raw.withColumn("ts", F.timestamp_micros(F.col("ts")))


def stream_tumbling_window_agg(
    spark: SparkSession,
    sf_dir: str,
    duration: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming tumbling-window aggregation with late-data watermark.
    Same output schema as operators.windows.tumbling_window_agg."""
    ev = stream_events(spark, sf_dir).withWatermark("ts", watermark)
    w = F.window("ts", duration)
    return (
        ev.groupBy(w.alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dec_sum("value", 4).alias("sum_value"),
            dec_avg("value", 6).alias("avg_value"),
        )
        .select(
            F.date_format(
                F.expr(ntz_from_micros("unix_micros(w.start)")), "yyyy-MM-dd HH:mm:ss"
            ).alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
            "avg_value",
        )
    )


def run_stream_to_memory(
    spark: SparkSession, sf_dir: str, table_name: str = "stream_window_agg"
) -> DataFrame:
    """Execute the streaming agg with availableNow (process everything
    currently available, then stop) into an in-memory sink; returns the
    materialized result. Complete mode: windowed agg without append
    finalization dependency."""
    with stream_state_partitions(spark):
        q = (
            stream_tumbling_window_agg(spark, sf_dir)
            .writeStream.format("memory")
            .queryName(table_name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    return spark.table(table_name)


def stream_click_attribution(
    spark: SparkSession,
    sf_dir: str,
    gap_minutes: int = 30,
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked STREAM-STREAM inner join: each click joined to the
    same user's views in the preceding ``gap_minutes`` (the classic
    view→click attribution join).

    Both sides carry event-time watermarks and the join condition
    bounds view_ts to a window around click_ts, so Spark can evict
    buffered state once the watermark passes — bounded state at
    unbounded input, the whole point of a watermarked join. With
    ``availableNow`` over the staged table the result must equal the
    batch inner join (pinned by the DuckDB oracle + pytest)."""
    ev = stream_events(spark, sf_dir)
    clicks = (
        ev.where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    views = (
        ev.where(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("view_user"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", watermark)
    )
    joined = clicks.join(
        views,
        F.expr(
            f"""user_id = view_user
                AND view_ts <= click_ts
                AND view_ts >= click_ts - INTERVAL {gap_minutes} MINUTES"""
        ),
    )
    return joined.select(
        "click_id",
        "view_id",
        "user_id",
        (F.unix_micros("click_ts") - F.unix_micros("view_ts")).alias("gap_us"),
    )


def run_stream_join_to_memory(
    spark: SparkSession, sf_dir: str, table_name: str = "stream_click_attr"
) -> DataFrame:
    """Execute the stream-stream join with availableNow into a memory
    sink (append mode — inner joins emit rows as matches arrive)."""
    with stream_state_partitions(spark):
        q = (
            stream_click_attribution(spark, sf_dir)
            .writeStream.format("memory")
            .queryName(table_name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    return spark.table(table_name)


def run_stream_dedup_to_memory(
    spark: SparkSession, sf_dir: str, table_name: str = "stream_dedup"
) -> DataFrame:
    """Watermarked STREAMING DEDUPLICATION: the source is read twice and
    unioned (every event arrives twice — the at-least-once delivery
    shape of real queues), then ``dropDuplicatesWithinWatermark`` on the
    event id emits each exactly once. State for an id is dropped once
    the watermark passes its event time — bounded state, unlike a plain
    dropDuplicates which remembers every key forever."""
    with stream_state_partitions(spark):
        a = stream_events(spark, sf_dir)
        b = stream_events(spark, sf_dir)
        ev = a.union(b).withWatermark("ts", "2 hours")
        deduped = ev.dropDuplicatesWithinWatermark(["event_id"]).select(
            "event_id", "user_id", "event_type"
        )
        q = (
            deduped.writeStream.format("memory")
            .queryName(table_name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    return spark.table(table_name)


def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STATIC dimension enrichment: the event stream joined to
    the static customer table (user_id → market segment). The static
    side is a plain batch DataFrame; Spark re-plans it per micro-batch
    and broadcasts it — no streaming state, no watermark, the canonical
    lakehouse enrichment shape (vs the stateful stream-stream join in
    stream_click_attribution)."""
    from proto_to_avro_ql_spark.sources.io import read_table

    ev = stream_events(spark, sf_dir)
    dim = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_mktsegment")
    )
    joined = ev.join(F.broadcast(dim), ev.user_id == dim.c_custkey)
    return joined.select("event_id", "user_id", "event_type", "c_mktsegment")


def run_stream_static_enrich_to_memory(
    spark: SparkSession, sf_dir: str, table_name: str = "stream_static_enrich"
) -> DataFrame:
    """Execute the stream-static enrichment with availableNow into a
    memory sink (append — stateless row-wise enrichment)."""
    q = (
        stream_static_enrich(spark, sf_dir)
        .writeStream.format("memory")
        .queryName(table_name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(table_name)
