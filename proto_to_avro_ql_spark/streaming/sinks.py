"""Streaming sinks beyond the memory demo: foreachBatch with an
idempotent overwrite-by-partition parquet write — the exactly-once
recipe without a transactional table format.

Each micro-batch's aggregates are written with dynamic partition
overwrite: re-processing a batch after a crash rewrites the same
partitions with the same content instead of duplicating rows. This is
the pattern the incremental layer (sources/incremental.py) pairs with.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from proto_to_avro_ql_spark.functions.portable import epoch_micros, ntz_from_micros
from proto_to_avro_ql_spark.functions.stable import dec_sum
from proto_to_avro_ql_spark.streaming.events import (
    stream_events,
    stream_state_partitions,
)


def windowed_agg(ev: DataFrame, duration: str = "1 hour") -> DataFrame:
    w = F.window("ts", duration)
    return (
        ev.groupBy(w.alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"), dec_sum("value", 4).alias("sum_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd-HH").alias("window_part"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def run_stream_to_partitioned_parquet(
    spark: SparkSession,
    sf_dir: str,
    out_path: str,
    checkpoint: str,
    duration: str = "1 hour",
) -> None:
    """availableNow streaming run writing per-window partitions
    idempotently via foreachBatch."""
    ev = stream_events(spark, sf_dir).withWatermark("ts", "2 hours")

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        # the stream's ts is an instant; window it as the batch reader's
        # timestamp_ntz so the partition names are the stored wall clock
        ntz = batch_df.withColumn("ts", F.expr(ntz_from_micros("unix_micros(ts)")))
        agg = windowed_agg(ntz, duration)
        # dynamic overwrite: only partitions present in this batch are
        # replaced — a replayed batch converges to the same state.
        agg.write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("window_part").parquet(out_path)

    q = (
        ev.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)


def run_stream_append_parquet(
    spark: SparkSession,
    sf_dir: str,
    staging: str,
    out_path: str,
    checkpoint: str,
    duration: str = "1 hour",
    watermark: str = "2 hours",
    n_files: int = 4,
    flush_sentinels: int = 0,
) -> DataFrame:
    """Native parquet file sink in APPEND output mode: each window row
    is emitted exactly once, when the watermark passes its end — the
    finalization semantics the complete-mode memory demo can't show
    (complete re-emits all state every batch; append is what a 100 TB
    stream must use, since state for closed windows is evicted).

    The bounded events table is re-staged as ``n_files`` time-slice
    files so the file source (maxFilesPerTrigger=1) delivers
    time-ascending micro-batches and the watermark genuinely advances
    between them; a single-file source yields one batch whose starting
    watermark finalizes nothing.

    Determinism: slice boundaries are FIXED arithmetic on (min, max) ts
    — not repartitionByRange, whose sampled boundaries can shift
    between runs — and each slice's file mtime is set explicitly
    ascending, because the file source orders by mtime and a tie would
    make the batch order (hence the watermark sequence, hence the
    finalized set) run-dependent.

    ``flush_sentinels`` (round 8): with 0, which windows finalize is a
    function of Spark's micro-batch watermark protocol (the watermark
    observed by batch N is computed from data through batch N-1, so
    the trailing windows stay un-emitted) — reproducible, but
    implementation-defined. With k >= 2, k single-row 'sentinel'
    slices are staged AFTER the real data, far enough ahead
    (> watermark + duration past max ts) that the advancing watermark
    passes every REAL window end with at least one batch to spare —
    so the emitted set becomes exactly "all real windows", a pure
    function of the data, and the append run is DuckDB-oracle-able as
    a plain windowed aggregation (the sentinels' own windows are never
    emitted: nothing later advances the watermark past them)."""
    import glob
    import os

    from proto_to_avro_ql_spark.sources.io import read_table

    # Staged with ts as epoch micros, and read back as the instant
    # stream_events builds, so the watermark has a zoned timestamp.
    ev_batch = read_table(spark, sf_dir, "events").withColumn(
        "ts", F.expr(epoch_micros("ts"))
    )
    lo, hi = ev_batch.agg(F.min("ts"), F.max("ts")).first()
    span_us = max(hi - lo, 1_000_000)
    slice_expr = F.least(
        F.lit(n_files - 1), F.floor((F.col("ts") - lo) / (span_us / n_files))
    )
    base_mtime = int(os.path.getmtime(staging)) - 2 * (n_files + flush_sentinels)
    # All slices + sentinels staged in ONE job: a single dynamic-
    # partition write from one task yields exactly one file per
    # slice=i dir (the old per-slice loop ran n_files+k sequential
    # driver jobs, each a full events scan — 6 scans and 6 job
    # latencies for 4+2 slices). Row order within a file differs from
    # the old coalesce(1) writes, but the windowed aggregate is
    # order-insensitive and the watermark sequence depends only on the
    # per-slice file mtimes set below.
    staged = ev_batch.withColumn("slice", slice_expr.cast("int"))
    for j in range(flush_sentinels):
        # one future event per sentinel slice: ts beyond watermark +
        # duration past the real max, each an hour apart so every
        # sentinel batch advances the watermark again.
        sent_ts = F.expr(
            epoch_micros(
                f"{ntz_from_micros(str(hi))} + INTERVAL {watermark} "
                f"+ INTERVAL {duration} + INTERVAL {j + 1} HOUR"
            )
        )
        sent = spark.range(1).select(
            F.lit(-1 - j).cast("long").alias("event_id"),
            sent_ts.alias("ts"),
            F.lit(-1).cast("long").alias("user_id"),
            F.lit("sentinel").alias("event_type"),
            F.lit(0.0).alias("value"),
            F.lit("{}").alias("props"),
            F.lit(n_files + j).cast("int").alias("slice"),
        )
        staged = staged.unionByName(sent)
    staged.repartition(1).write.mode("overwrite").partitionBy("slice").parquet(
        staging
    )
    for s in range(n_files + flush_sentinels):
        mt = base_mtime + 2 * s
        for f in glob.glob(os.path.join(staging, f"slice={s}", "*.parquet")):
            os.utime(f, (mt, mt))

    with stream_state_partitions(spark):
        ev = (
            spark.readStream.schema(ev_batch.schema)
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", "true")
            .option("pathGlobFilter", "*.parquet")
            .parquet(staging)
            .withColumn("ts", F.timestamp_micros("ts"))
            .withWatermark("ts", watermark)
        )
        agg = (
            ev.groupBy(F.window("ts", duration).alias("w"), F.col("event_type"))
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                dec_sum("value", 4).alias("sum_value"),
            )
            .select(
                F.expr(ntz_from_micros("unix_micros(w.start)")).alias("window_start"),
                F.expr(ntz_from_micros("unix_micros(w.end)")).alias("window_end"),
                "event_type",
                "n_events",
                "sum_value",
            )
        )
        q = (
            agg.writeStream.format("parquet")
            .option("path", out_path)
            .option("checkpointLocation", checkpoint)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
    return spark.read.parquet(out_path)
