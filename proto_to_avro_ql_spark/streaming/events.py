"""Structured Streaming layer (SURVEY.md §2.9 ext_window_agg streaming
variant; reference analog: the lazy gRPC row stream, Main.scala:60-66).

The reference consumes a server-side stream as a lazy iterator with no
state or watermarks; the Spark-native upgrade is a real readStream with
event-time tumbling windows and late-data watermarking. Every stream
here is bounded: :func:`run_to_end` runs one with the ``availableNow``
trigger (process everything currently available, then stop) under one
policy — the state width, a time limit, and a failure that raises — and
:func:`drain_to_memory` collects one into a memory sink and hands back
the result without leaving a view in the caller's session. The stream
builders below (window aggregation, stream-stream join, watermarked
dedup, stream-static enrichment) each equal their batch operator — the
Kappa-architecture consistency check the oracles and tests pin.

Scale notes: watermark + append output keeps state bounded (windows
close and evict); the aggregation shuffles on (window, event_type) with
partial aggregation, identical to the batch plan.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter

from proto_to_avro_ql_spark.functions.portable import ntz_from_micros
from proto_to_avro_ql_spark.functions.stable import dec_avg
from proto_to_avro_ql_spark.operators.windows import event_totals

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
# Longest wait for a bounded stream to drain; past it the query is
# stopped and the run fails instead of returning a partial result.
RUN_TIMEOUT_S = 300
# Event-time lateness every watermarked stream tolerates.
WATERMARK = "2 hours"
WINDOW = "1 hour"
# A click is attributed to the same user's views this far before it.
ATTRIBUTION_MINUTES = 30

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


def run_to_end(writer: DataStreamWriter) -> None:
    """Start ``writer`` with the availableNow trigger and wait until it
    has processed everything available. A failed query raises its
    StreamingQueryException; one still running after RUN_TIMEOUT_S is
    stopped and raises TimeoutError.

    The state width is spark.sql.shuffle.partitions as the query STARTS:
    the query clones the session conf in start(), so scoping the conf to
    STREAM_STATE_PARTITIONS around start() alone sizes its state and
    leaves the caller's session as it was."""
    spark = writer._spark
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", STREAM_STATE_PARTITIONS)
    try:
        q = writer.trigger(availableNow=True).start()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)
    if not q.awaitTermination(RUN_TIMEOUT_S):
        q.stop()
        raise TimeoutError(f"stream {q.id} still running after {RUN_TIMEOUT_S} s")


def drain_to_memory(df: DataFrame, mode: str) -> DataFrame:
    """Run the bounded stream ``df`` to its end into a memory sink in
    output ``mode`` and return the result. The sink's temp view, under a
    name unique to this call, is dropped once the result is resolved:
    the returned frame holds the sink, not the view."""
    spark = df.sparkSession
    name = f"drain_{uuid.uuid4().hex}"
    try:
        run_to_end(df.writeStream.format("memory").queryName(name).outputMode(mode))
        return spark.table(name)
    finally:
        spark.catalog.dropTempView(name)


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


def stream_tumbling_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming tumbling-window aggregation with late-data watermark.
    Same output schema as operators.windows.tumbling_window_agg; drain
    it in complete mode (no dependency on append finalization)."""
    ev = stream_events(spark, sf_dir).withWatermark("ts", WATERMARK)
    return (
        ev.groupBy(F.window("ts", WINDOW).alias("w"), F.col("event_type"))
        .agg(*event_totals(), dec_avg("value", 6).alias("avg_value"))
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


def stream_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked STREAM-STREAM inner join: each click joined to the
    same user's views in the preceding ATTRIBUTION_MINUTES (the classic
    view→click attribution join).

    Both sides carry event-time watermarks and the join condition
    bounds view_ts to a window around click_ts, so Spark can evict
    buffered state once the watermark passes — bounded state at
    unbounded input, the whole point of a watermarked join. Drained in
    append mode (an inner join emits rows as matches arrive), the
    result must equal the batch inner join (pinned by the DuckDB
    oracle + pytest)."""
    ev = stream_events(spark, sf_dir)
    clicks = (
        ev.where(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", WATERMARK)
    )
    views = (
        ev.where(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("view_user"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", WATERMARK)
    )
    joined = clicks.join(
        views,
        F.expr(
            f"""user_id = view_user
                AND view_ts <= click_ts
                AND view_ts >= click_ts - INTERVAL {ATTRIBUTION_MINUTES} MINUTES"""
        ),
    )
    return joined.select(
        "click_id",
        "view_id",
        "user_id",
        (F.unix_micros("click_ts") - F.unix_micros("view_ts")).alias("gap_us"),
    )


def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked STREAMING DEDUPLICATION: the source is read twice and
    unioned (every event arrives twice — the at-least-once delivery
    shape of real queues), then ``dropDuplicatesWithinWatermark`` on the
    event id emits each exactly once (drain in append mode). State for
    an id is dropped once the watermark passes its event time — bounded
    state, unlike a plain dropDuplicates which remembers every key
    forever."""
    ev = stream_events(spark, sf_dir).union(stream_events(spark, sf_dir))
    return (
        ev.withWatermark("ts", WATERMARK)
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "event_type")
    )


def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STATIC dimension enrichment: the event stream joined to
    the static customer table (user_id → market segment). The static
    side is a plain batch DataFrame; Spark re-plans it per micro-batch
    and broadcasts it — no streaming state, no watermark, the canonical
    lakehouse enrichment shape (vs the stateful stream-stream join in
    stream_click_attribution). Stateless row-wise: drain in append
    mode."""
    from proto_to_avro_ql_spark.sources.io import read_table

    ev = stream_events(spark, sf_dir)
    dim = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_mktsegment")
    )
    joined = ev.join(F.broadcast(dim), ev.user_id == dim.c_custkey)
    return joined.select("event_id", "user_id", "event_type", "c_mktsegment")
