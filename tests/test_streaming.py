"""Streaming/batch consistency: each bounded stream must produce exactly
its batch operator's result (Kappa check); the one runner every stream
goes through keeps its time limit, its state width and the caller's
session; the event totals match a plain-Python reference."""

from __future__ import annotations

import pytest

from proto_to_avro_ql_spark.operators.windows import event_totals, tumbling_window_agg
from proto_to_avro_ql_spark.sources.io import read_table
from proto_to_avro_ql_spark.streaming import events as ST

STREAM_ENTRIES = [
    "ext_stream_window",
    "ext_stream_append_sink",
    "ext_stream_join",
    "ext_stream_dedup",
    "ext_stream_static_join",
    "src_stream_connector",
    "src_state_reader",
    "sink_stream_foreachbatch",
]


class TestStreamingWindowAgg:
    def test_stream_equals_batch(self, spark, sf_dir):
        batch = {
            (r.window_start, r.event_type): (r.n_events, r.sum_value, r.avg_value)
            for r in tumbling_window_agg(read_table(spark, sf_dir, "events")).collect()
        }
        streamed = {
            (r.window_start, r.event_type): (r.n_events, r.sum_value, r.avg_value)
            for r in ST.drain_to_memory(
                ST.stream_tumbling_window_agg(spark, sf_dir), "complete"
            ).collect()
        }
        assert streamed == batch
        assert len(batch) > 0


class TestStatefulSessionize:
    def test_stream_sessionize_equals_batch(self, spark, sf_dir):
        """applyInPandasWithState sessionization must reproduce the
        batch window-function sessionization exactly."""
        from proto_to_avro_ql_spark.operators.windows import sessionize
        from proto_to_avro_ql_spark.streaming.sessionize import stream_sessionize

        streamed = {
            (r.user_id, r.event_id): r.session_seq
            for r in ST.drain_to_memory(stream_sessionize(spark, sf_dir), "update").collect()
        }
        batch = {
            (r.user_id, r.event_id): r.session_seq
            for r in sessionize(read_table(spark, sf_dir, "events"), 30).collect()
        }
        assert len(streamed) == len(batch) > 0
        assert streamed == batch


class TestAppendModeFileSink:
    def test_append_sink_emits_only_finalized_windows(self, spark, sf_dir):
        """Native parquet sink, append mode, sentinel slices staged after
        the data: the emitted rows are exactly the batch window totals —
        every real window once, no sentinel row, none emitted twice."""
        import tempfile

        from pyspark.sql import functions as F

        from proto_to_avro_ql_spark.functions.portable import epoch_micros, ntz_from_micros
        from proto_to_avro_ql_spark.streaming.sinks import run_stream_append_parquet

        staging = tempfile.mkdtemp(prefix="app_stage_")
        out = tempfile.mkdtemp(prefix="app_out_")
        ckpt = tempfile.mkdtemp(prefix="app_ckpt_")
        emitted = sorted(
            tuple(r)
            for r in run_stream_append_parquet(spark, sf_dir, staging, out, ckpt)
            .select("window_start", "window_end", "event_type", "n_events", "sum_value")
            .collect()
        )
        ev = read_table(spark, sf_dir, "events")
        start = F.expr(ntz_from_micros(f"{epoch_micros('ts')} DIV 3600000000 * 3600000000"))
        batch = sorted(
            tuple(r)
            for r in ev.groupBy(start.alias("window_start"), "event_type")
            .agg(*event_totals())
            .select(
                "window_start",
                (F.col("window_start") + F.expr("INTERVAL 1 HOUR")).alias("window_end"),
                "event_type",
                "n_events",
                "sum_value",
            )
            .collect()
        )
        assert len(batch) > 0
        assert emitted == batch
        assert "sentinel" not in {r[2] for r in emitted}


class TestStreamStreamJoin:
    def test_stream_join_equals_batch(self, spark, sf_dir):
        """Watermarked stream-stream attribution join == batch inner
        join (the Kappa consistency check for joins)."""
        from pyspark.sql import functions as F

        from proto_to_avro_ql_spark.functions.portable import epoch_micros

        streamed = {
            (r.click_id, r.view_id): (r.user_id, r.gap_us)
            for r in ST.drain_to_memory(
                ST.stream_click_attribution(spark, sf_dir), "append"
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
        streamed = {
            r.event_id: (r.user_id, r.event_type, r.c_mktsegment)
            for r in ST.drain_to_memory(ST.stream_static_enrich(spark, sf_dir), "append").collect()
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
            ST.run_to_end(
                spark.readStream.format("proto_replay_stream")
                .option("path", str(staged))
                .load()
                .writeStream.format("parquet")
                .option("path", out_dir)
                .outputMode("append")
                .option("checkpointLocation", ckpt)
            )

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


class TestRunToEnd:
    """The one runner of bounded streams: its time limit, its state
    width, and the session it leaves behind."""

    def test_timeout_stops_the_query_and_raises(self, spark, sf_dir, monkeypatch):
        monkeypatch.setattr(ST, "RUN_TIMEOUT_S", 0.001)
        views = {t.name for t in spark.catalog.listTables()}
        with pytest.raises(TimeoutError):
            ST.drain_to_memory(ST.stream_tumbling_window_agg(spark, sf_dir), "complete")
        assert spark.streams.active == []
        assert {t.name for t in spark.catalog.listTables()} == views

    @pytest.mark.parametrize("width", ["32", "5"])
    def test_state_width_is_fixed_and_session_kept(self, spark, sf_dir, tmp_path, width):
        from pyspark.sql import functions as F

        key = "spark.sql.shuffle.partitions"
        saved = spark.conf.get(key)
        spark.conf.set(key, width)
        try:
            ckpt = str(tmp_path / "ckpt")
            agg = ST.stream_events(spark, sf_dir).groupBy("event_type").agg(F.count(F.lit(1)))
            ST.run_to_end(
                agg.writeStream.outputMode("complete")
                .format("noop")
                .option("checkpointLocation", ckpt)
            )
            assert spark.conf.get(key) == width
            meta = spark.read.format("state-metadata").load(ckpt).collect()
            assert len(meta) > 0
            assert {r.numPartitions for r in meta} == {ST.STREAM_STATE_PARTITIONS}
        finally:
            spark.conf.set(key, saved)


class TestStreamEntriesKeepTheSession:
    """A stream entry leaves no temp view in the caller's session, and
    the frame it returns still collects."""

    @pytest.mark.parametrize("name", STREAM_ENTRIES)
    def test_no_new_view_and_result_collects(self, spark, sf_dir, name):
        from proto_to_avro_ql_spark.entry_queries import QUERIES

        views = {t.name for t in spark.catalog.listTables()}
        df = QUERIES[name](spark, sf_dir)
        assert {t.name for t in spark.catalog.listTables()} == views
        assert spark.streams.active == []
        assert len(df.collect()) > 0


class TestEventTotalsReference:
    """``event_totals`` and its DuckDB twin against plain Python: COUNT
    of all rows, DECIMAL(38,6) sum of the non-null values rounded
    HALF_UP to 4 places, null for an all-null group."""

    ROWS = [
        ("a", 1.25), ("a", None), ("a", -3.5), ("a", 0.125),
        ("tie", 0.00002), ("tie", 0.00003),  # sums to 0.00005: rounds up
        ("neg_tie", -0.00002), ("neg_tie", -0.00003),  # -0.00005: away from 0
        ("nulls", None), ("nulls", None),
        ("one", -7.0),
    ]

    @staticmethod
    def reference(rows):
        from decimal import ROUND_HALF_UP, Decimal

        out = {}
        for k in dict.fromkeys(k for k, _ in rows):
            vals = [v for g, v in rows if g == k]
            present = [
                Decimal(repr(v)).quantize(Decimal("0.000001"), ROUND_HALF_UP)
                for v in vals
                if v is not None
            ]
            total = (
                float(sum(present).quantize(Decimal("0.0001"), ROUND_HALF_UP))
                if present
                else None
            )
            out[k] = (len(vals), total)
        return out

    def test_reference_values(self):
        ref = self.reference(self.ROWS)
        assert ref["tie"] == (2, 0.0001) and ref["neg_tie"] == (2, -0.0001)
        assert ref["a"] == (4, -2.125) and ref["nulls"] == (2, None)

    def test_spark_and_duckdb_match_reference(self, spark):
        import duckdb

        from proto_to_avro_ql_spark.operators.windows import event_totals_sql

        ref = self.reference(self.ROWS)
        df = spark.createDataFrame(self.ROWS, "k string, value double")
        got = {
            r.k: (r.n_events, r.sum_value)
            for r in df.groupBy("k").agg(*event_totals()).collect()
        }
        assert got == ref
        values = ", ".join(
            f"('{k}', {'NULL' if v is None else repr(v)}::DOUBLE)" for k, v in self.ROWS
        )
        rows = duckdb.sql(
            f"SELECT k, {event_totals_sql()} FROM (VALUES {values}) t(k, value) GROUP BY k"
        ).fetchall()
        assert {k: (n, s) for k, n, s in rows} == ref
