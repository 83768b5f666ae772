"""Streaming/batch consistency: the Structured Streaming tumbling-window
agg must produce exactly the batch operator's result (Kappa check)."""

from __future__ import annotations

import pytest

from proto_to_avro_ql_spark.functions.stable import dec_sum
from proto_to_avro_ql_spark.operators.windows import tumbling_window_agg
from proto_to_avro_ql_spark.sources.io import read_table
from proto_to_avro_ql_spark.streaming.events import run_stream_to_memory


class TestStreamingWindowAgg:
    def test_stream_equals_batch(self, spark, sf_dir):
        batch = {
            (r.window_start, r.event_type): (r.n_events, r.sum_value, r.avg_value)
            for r in tumbling_window_agg(read_table(spark, sf_dir, "events")).collect()
        }
        streamed = {
            (r.window_start, r.event_type): (r.n_events, r.sum_value, r.avg_value)
            for r in run_stream_to_memory(spark, sf_dir).collect()
        }
        assert streamed == batch
        assert len(batch) > 0


class TestStatefulSessionize:
    def test_stream_sessionize_equals_batch(self, spark, sf_dir):
        """applyInPandasWithState sessionization must reproduce the
        batch window-function sessionization exactly."""
        from proto_to_avro_ql_spark.operators.windows import sessionize
        from proto_to_avro_ql_spark.streaming.sessionize import (
            run_stream_sessionize_to_memory,
        )

        streamed = {
            (r.user_id, r.event_id): r.session_seq
            for r in run_stream_sessionize_to_memory(
                spark, sf_dir, table_name="t_sessions"
            ).collect()
        }
        batch = {
            (r.user_id, r.event_id): r.session_seq
            for r in sessionize(read_table(spark, sf_dir, "events"), 30).collect()
        }
        assert len(streamed) == len(batch) > 0
        assert streamed == batch


class TestForeachBatchIdempotentSink:
    def test_stream_partitioned_parquet_equals_batch(self, spark, sf_dir):
        import shutil
        import tempfile

        from proto_to_avro_ql_spark.sources.io import read_table
        from proto_to_avro_ql_spark.streaming.sinks import (
            run_stream_to_partitioned_parquet,
            windowed_agg,
        )

        mode_key = "spark.sql.sources.partitionOverwriteMode"
        mode_before = spark.conf.get(mode_key)
        out = tempfile.mkdtemp(prefix="stream_out_")
        ckpt = tempfile.mkdtemp(prefix="stream_ckpt_")
        run_stream_to_partitioned_parquet(spark, sf_dir, out, ckpt)
        # the dynamic overwrite is a per-write option: the caller's
        # session keeps its own mode
        assert spark.conf.get(mode_key) == mode_before
        streamed = {
            (r.window_part, r.event_type): (r.n_events, r.sum_value)
            for r in spark.read.parquet(out).collect()
        }
        batch = {
            (r.window_part, r.event_type): (r.n_events, r.sum_value)
            for r in windowed_agg(read_table(spark, sf_dir, "events")).collect()
        }
        assert streamed == batch and len(batch) > 0

        # idempotence: re-running from a FRESH checkpoint replays the
        # data and converges to the same output (no duplication)
        shutil.rmtree(ckpt)
        run_stream_to_partitioned_parquet(spark, sf_dir, out, tempfile.mkdtemp(prefix="ck2_"))
        again = {
            (r.window_part, r.event_type): (r.n_events, r.sum_value)
            for r in spark.read.parquet(out).collect()
        }
        assert again == batch


class TestAppendModeFileSink:
    def test_append_sink_emits_only_finalized_windows(self, spark, sf_dir):
        """Native parquet sink, append mode: emitted windows are (a) a
        non-empty subset of the batch result, (b) value-identical to
        their batch counterparts, and (c) all strictly finalized — no
        window past the final watermark ever reaches the sink."""
        import datetime
        import tempfile

        from pyspark.sql import functions as F

        from proto_to_avro_ql_spark.sources.io import read_table
        from proto_to_avro_ql_spark.streaming.sinks import run_stream_append_parquet

        staging = tempfile.mkdtemp(prefix="app_stage_")
        out = tempfile.mkdtemp(prefix="app_out_")
        ckpt = tempfile.mkdtemp(prefix="app_ckpt_")
        emitted_df = run_stream_append_parquet(spark, sf_dir, staging, out, ckpt)
        emitted = {
            (r.window_start, r.event_type): (r.n_events, r.sum_value, r.window_end)
            for r in emitted_df.collect()
        }

        ev = read_table(spark, sf_dir, "events")
        batch = {
            (r.window_start, r.event_type): (r.n_events, r.sum_value)
            for r in ev.groupBy(
                F.window("ts", "1 hour").alias("w"), F.col("event_type")
            )
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                dec_sum("value", 4).alias("sum_value"),
            )
            .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value")
            .collect()
        }
        assert len(emitted) > 0
        for key, (n, s, _end) in emitted.items():
            assert batch[key] == (n, s)

        # no premature emission: every emitted window closed before the
        # final watermark (max event time - 2h delay)
        max_ts = ev.agg(F.max("ts")).first()[0]
        final_wm = max_ts - datetime.timedelta(hours=2)
        assert all(end <= final_wm for (_, _, end) in emitted.values())


class TestStreamStreamJoin:
    def test_stream_join_equals_batch(self, spark, sf_dir):
        """Watermarked stream-stream attribution join == batch inner
        join (the Kappa consistency check for joins)."""
        from pyspark.sql import functions as F

        from proto_to_avro_ql_spark.functions.portable import epoch_micros
        from proto_to_avro_ql_spark.streaming.events import run_stream_join_to_memory

        streamed = {
            (r.click_id, r.view_id): (r.user_id, r.gap_us)
            for r in run_stream_join_to_memory(
                spark, sf_dir, table_name="t_stream_join_eq"
            ).collect()
        }
        ev = read_table(spark, sf_dir, "events")
        c = ev.where(F.col("event_type") == "click").select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
        v = ev.where(F.col("event_type") == "view").select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("view_user"),
            F.col("ts").alias("view_ts"),
        )
        batch = {
            (r.click_id, r.view_id): (r.user_id, r.gap_us)
            for r in c.join(
                v,
                (F.col("user_id") == F.col("view_user"))
                & (F.col("view_ts") <= F.col("click_ts"))
                & (F.col("view_ts") >= F.col("click_ts") - F.expr("INTERVAL 30 MINUTES")),
            )
            .select(
                "click_id",
                "view_id",
                "user_id",
                F.expr(f"{epoch_micros('click_ts')} - {epoch_micros('view_ts')}").alias(
                    "gap_us"
                ),
            )
            .collect()
        }
        assert len(streamed) > 0
        assert streamed == batch


class TestStreamStaticJoin:
    def test_stream_static_enrich_equals_batch(self, spark, sf_dir):
        """Stateless stream-static enrichment must emit exactly the
        batch inner-join rows (same keys, same segments)."""
        from proto_to_avro_ql_spark.streaming.events import (
            run_stream_static_enrich_to_memory,
        )

        streamed = {
            r.event_id: (r.user_id, r.event_type, r.c_mktsegment)
            for r in run_stream_static_enrich_to_memory(
                spark, sf_dir, table_name="t_stream_static_eq"
            ).collect()
        }
        ev = read_table(spark, sf_dir, "events")
        dim = read_table(spark, sf_dir, "customer")
        batch = {
            r.event_id: (r.user_id, r.event_type, r.c_mktsegment)
            for r in ev.join(dim, ev.user_id == dim.c_custkey)
            .select("event_id", "user_id", "event_type", "c_mktsegment")
            .collect()
        }
        assert streamed == batch and len(streamed) > 0


class TestStreamConnector:
    def test_offset_resume_is_exactly_once(self, spark, tmp_path):
        """Drain two staged files, then add a third and resume from the
        SAME checkpoint: only the new file's rows arrive (offset log +
        file-index offsets = exactly-once over the replay dir)."""
        import base64

        from proto_to_avro_ql_spark.sources.protodec import (
            EVENT_SPEC,
            encode_message,
        )
        from proto_to_avro_ql_spark.sources.replay_source import (
            ProtoReplayStreamSource,
        )

        staged = tmp_path / "replay"
        staged.mkdir()

        def write_file(idx: int, ids: list[int]) -> None:
            lines = [
                base64.b64encode(
                    encode_message(
                        EVENT_SPEC,
                        {
                            "event_id": i,
                            "user_id": i * 10,
                            "meta": {"event_type": "view", "value": float(i)},
                        },
                    )
                )
                for i in ids
            ]
            (staged / f"part-{idx:05d}").write_bytes(b"\n".join(lines) + b"\n")

        write_file(0, [1, 2])
        write_file(1, [3])
        spark.dataSource.register(ProtoReplayStreamSource)
        ckpt = str(tmp_path / "ckpt")

        out_dir = str(tmp_path / "out")

        def drain() -> None:
            # parquet sink: the memory sink does not support checkpoint
            # recovery, and recovery is exactly what this test pins
            q = (
                spark.readStream.format("proto_replay_stream")
                .option("path", str(staged))
                .load()
                .writeStream.format("parquet")
                .option("path", out_dir)
                .outputMode("append")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
            q.stop()

        drain()
        got1 = {r.event_id for r in spark.read.parquet(out_dir).collect()}
        assert got1 == {1, 2, 3}

        write_file(2, [4, 5])
        drain()  # same checkpoint: resumes from offset idx=2
        got2 = {r.event_id for r in spark.read.parquet(out_dir).collect()}
        assert got2 == {1, 2, 3, 4, 5}, "resume must append ONLY the new file"


class TestStateReader:
    def test_state_store_equals_batch_and_resumes(self, spark, sf_dir):
        """The statestore read of a completed streaming aggregation
        equals the batch aggregate, and a second run over the same
        data reads back identical state."""
        from proto_to_avro_ql_spark.entry_queries import QUERIES
        from proto_to_avro_ql_spark.sources.io import read_table

        import pyspark.sql.functions as F

        df = QUERIES["src_state_reader"](spark, sf_dir)
        # pin the state-read schema (r04 verdict #8): the statestore
        # format's key/value layout must keep surfacing exactly these
        # typed columns or downstream consumers silently break
        assert [(f.name, f.dataType.simpleString()) for f in df.schema.fields] == [
            ("event_type", "string"),
            ("n_events", "bigint"),
        ], df.schema.simpleString()
        first = sorted(map(tuple, df.collect()))
        batch = sorted(
            map(
                tuple,
                read_table(spark, sf_dir, "events")
                .groupBy("event_type")
                .agg(F.count(F.lit(1)).alias("n_events"))
                .collect(),
            )
        )
        assert first == batch
        second = sorted(
            map(tuple, QUERIES["src_state_reader"](spark, sf_dir).collect())
        )
        assert second == first


class TestStreamEntriesRerunOnChangedData:
    """A second run of a stream entry over the same sf_dir after its
    events changed must read the new data: each run starts from a fresh
    checkpoint, so no offset log from an earlier run is resumed."""

    @pytest.mark.parametrize("name", ["src_state_reader", "sink_stream_foreachbatch"])
    def test_second_run_equals_batch_of_new_data(self, spark, sf_dir, tmp_path, name):
        import shutil

        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        from proto_to_avro_ql_spark.entry_queries import ORACLES, QUERIES
        from tests.oracle_check import canon_rows, duckdb_con

        scratch = str(tmp_path / "sf")
        shutil.copytree(sf_dir, scratch)
        events = f"{scratch}/events.parquet"
        full = pq.read_table(events)

        def rows(df):
            return canon_rows(df.toPandas())

        def batch():
            return canon_rows(duckdb_con(scratch).execute(ORACLES[name]).fetchdf())

        assert rows(QUERIES[name](spark, scratch)) == batch()
        subset = full.filter(pc.equal(pc.bit_wise_and(full["event_id"], 1), 0))
        assert 0 < subset.num_rows < full.num_rows
        pq.write_table(subset, events)
        second = rows(QUERIES[name](spark, scratch))
        assert second == batch()
