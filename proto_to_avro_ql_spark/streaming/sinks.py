"""The append-mode parquet file sink: a windowed aggregation whose
rows reach storage exactly once, when the watermark passes each
window's end — the finalization semantics a complete-mode memory
drain can't show (complete re-emits all state every batch; append is
what a 100 TB stream must use, since state for closed windows is
evicted).
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from proto_to_avro_ql_spark.functions.portable import epoch_micros, ntz_from_micros
from proto_to_avro_ql_spark.operators.windows import event_totals
from proto_to_avro_ql_spark.sources.io import read_table
from proto_to_avro_ql_spark.streaming.events import WATERMARK, WINDOW, run_to_end

# Time-slice files the bounded events table is re-staged as, and the
# single-row sentinel slices staged after them.
N_FILES = 4
N_SENTINELS = 2


def run_stream_append_parquet(
    spark: SparkSession, sf_dir: str, staging: str, out_path: str, checkpoint: str
) -> DataFrame:
    """Run the events through the append-mode parquet sink at
    ``out_path`` and return the finalized (window_start, window_end,
    event_type, n_events, sum_value) rows: exactly one per real window
    and event type, a pure function of the data.

    The bounded events table is re-staged under ``staging`` as N_FILES
    time-slice files so the file source (maxFilesPerTrigger=1) delivers
    time-ascending micro-batches and the watermark genuinely advances
    between them; a single-file source yields one batch whose starting
    watermark finalizes nothing. The watermark observed by batch N is
    computed from data through batch N-1, so on the real slices alone
    the trailing windows would stay un-emitted. N_SENTINELS single-row
    'sentinel' slices are therefore staged AFTER the real data, far
    enough ahead (> watermark + window past max ts) that the advancing
    watermark passes every REAL window end with at least one batch to
    spare. The sentinels' own windows never finalize (nothing later
    advances the watermark past them) and are filtered out here all
    the same.

    Determinism: slice boundaries are FIXED arithmetic on (min, max) ts
    — not repartitionByRange, whose sampled boundaries can shift
    between runs — and each slice's file mtime is set explicitly
    ascending, because the file source orders by mtime and a tie would
    make the batch order (hence the watermark sequence, hence the
    finalized set) run-dependent."""
    # Staged with ts as epoch micros, and read back as the instant
    # stream_events builds, so the watermark has a zoned timestamp.
    ev_batch = read_table(spark, sf_dir, "events").withColumn(
        "ts", F.expr(epoch_micros("ts"))
    )
    lo, hi = ev_batch.agg(F.min("ts"), F.max("ts")).first()
    span_us = max(hi - lo, 1_000_000)
    slice_expr = F.least(
        F.lit(N_FILES - 1), F.floor((F.col("ts") - lo) / (span_us / N_FILES))
    )
    base_mtime = int(os.path.getmtime(staging)) - 2 * (N_FILES + N_SENTINELS)
    # All slices + sentinels staged in ONE job: a single dynamic-
    # partition write from one task yields exactly one file per
    # slice=i dir. Row order within a file is arbitrary, but the
    # windowed aggregate is order-insensitive and the watermark
    # sequence depends only on the per-slice file mtimes set below.
    staged = ev_batch.withColumn("slice", slice_expr.cast("int"))
    for j in range(N_SENTINELS):
        # one future event per sentinel slice: ts beyond watermark +
        # window past the real max, each an hour apart so every
        # sentinel batch advances the watermark again.
        sent_ts = F.expr(
            epoch_micros(
                f"{ntz_from_micros(str(hi))} + INTERVAL {WATERMARK} "
                f"+ INTERVAL {WINDOW} + INTERVAL {j + 1} HOUR"
            )
        )
        sent = spark.range(1).select(
            F.lit(-1 - j).cast("long").alias("event_id"),
            sent_ts.alias("ts"),
            F.lit(-1).cast("long").alias("user_id"),
            F.lit("sentinel").alias("event_type"),
            F.lit(0.0).alias("value"),
            F.lit("{}").alias("props"),
            F.lit(N_FILES + j).cast("int").alias("slice"),
        )
        staged = staged.unionByName(sent)
    staged.repartition(1).write.mode("overwrite").partitionBy("slice").parquet(
        staging
    )
    for s in range(N_FILES + N_SENTINELS):
        mt = base_mtime + 2 * s
        for f in glob.glob(os.path.join(staging, f"slice={s}", "*.parquet")):
            os.utime(f, (mt, mt))

    ev = (
        spark.readStream.schema(ev_batch.schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.parquet")
        .parquet(staging)
        .withColumn("ts", F.timestamp_micros("ts"))
        .withWatermark("ts", WATERMARK)
    )
    agg = (
        ev.groupBy(F.window("ts", WINDOW).alias("w"), F.col("event_type"))
        .agg(*event_totals())
        .select(
            F.expr(ntz_from_micros("unix_micros(w.start)")).alias("window_start"),
            F.expr(ntz_from_micros("unix_micros(w.end)")).alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    run_to_end(
        agg.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    return spark.read.parquet(out_path).where(F.col("event_type") != "sentinel")
