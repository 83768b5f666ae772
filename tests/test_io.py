from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from proto_to_avro_ql_spark.sources.io import (
    QueryCache,
    avro_supported,
    read_table,
    sink_json_direct,
    write_avro_or_parquet,
)


class TestQueryCache:
    def test_miss_then_hit(self, spark):
        cache = QueryCache(spark, tempfile.mkdtemp(prefix="tc_"))
        q = "SELECT 1"
        assert not cache.hit(q)
        calls = []

        def producer():
            calls.append(1)
            return spark.range(5).toDF("n")

        out1 = cache.run(q, producer)
        assert out1.count() == 5 and len(calls) == 1
        out2 = cache.run(q, producer)
        assert out2.count() == 5 and len(calls) == 1  # replay, no re-run

    def test_different_query_reruns(self, spark):
        cache = QueryCache(spark, tempfile.mkdtemp(prefix="tc2_"))
        cache.run("q1", lambda: spark.range(1).toDF("n"))
        assert not cache.hit("q2")  # changed text → rerun contract

    def test_replay_preserves_values(self, spark):
        cache = QueryCache(spark, tempfile.mkdtemp(prefix="tc3_"))
        df = spark.createDataFrame([(1, "a"), (2, None)], "id long, s string")
        out = cache.run("q", lambda: df)
        assert sorted((r.id, r.s) for r in out.collect()) == [(1, "a"), (2, None)]


class TestSinks:
    def test_avro_or_parquet_roundtrip(self, spark, sf_dir):
        n = read_table(spark, sf_dir, "nation")
        path = tempfile.mkdtemp(prefix="avro_")
        fmt = write_avro_or_parquet(n, path)
        assert fmt in ("avro", "parquet")
        back = spark.read.format(fmt).load(path)
        assert back.count() == n.count()
        assert set(back.columns) == set(n.columns)

    def test_json_direct_shape(self, spark):
        df = spark.createDataFrame([(1, "x")], "a long, b string")
        row = sink_json_direct(df).first()
        assert row.json == '{"a":1,"b":"x"}'


class TestTimestampsAreNtz:
    def test_parquet_timestamps_read_as_ntz(self, spark, sf_dir):
        """The three zone-less parquet timestamps keep their wall-clock
        type: one rule for all of them, no cast in the reader."""
        for table, col in (
            ("events", "ts"),
            ("orders", "o_orderdate"),
            ("lineitem", "l_shipdate"),
        ):
            df = read_table(spark, sf_dir, table)
            assert dict(df.dtypes)[col] == "timestamp_ntz", (table, col)
        r = read_table(spark, sf_dir, "events").orderBy("event_id").first()
        assert r.ts.year >= 2024 and r.ts.tzinfo is None


class TestWidthMemo:
    def test_stale_application_entries_dropped(self, spark, monkeypatch):
        """The ensure_min_parallelism memo keeps the current
        application's entries only: one call drops a stale key."""
        from proto_to_avro_ql_spark.sources import io

        stale = ("stale-application", 1, 1)
        monkeypatch.setattr(io, "_WIDTH_MEMO", {stale: True})
        io.ensure_min_parallelism(spark.range(4))
        assert stale not in io._WIDTH_MEMO
        assert io._WIDTH_MEMO, "the current application's entry is kept"


class TestReadersLeaveSessionConf:
    def test_readers_write_no_session_conf(self, spark, sf_dir):
        """The readers are plain readers: a fresh session's confs,
        its timezone included, are the same after reading every table
        and defining the events stream."""
        from proto_to_avro_ql_spark.sources.io import TABLES
        from proto_to_avro_ql_spark.streaming.events import stream_events

        fresh = spark.newSession()
        fresh.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
        before = fresh.conf.getAll
        for name in TABLES:
            read_table(fresh, sf_dir, name)
        stream_events(fresh, sf_dir)
        assert fresh.conf.getAll == before


class TestMultimodalPlumbing:
    def test_feature_extraction_values(self, spark):
        """The Arrow mapInPandas path produces the documented
        deterministic byte-histogram features."""
        from proto_to_avro_ql_spark.operators.multimodal import (
            extract_features,
            pack_blob,
        )

        df = spark.createDataFrame([(1, "AAAA"), (2, "")], "event_id long, props string")
        packed = pack_blob(df, "props", "text/plain")
        feats = {r.event_id: r for r in extract_features(packed).collect()}
        # 'A' = 0x41 → bin 2 (0x41 >> 5); four bytes → bin2 == 1.0
        assert feats[1].n_bytes == 4
        assert feats[1].feat[2] == 1.0 and sum(feats[1].feat) == 1.0
        assert feats[2].feat == [0.0] * 8

    def test_audio_energy_matches_python(self, spark):
        """Third implementation of the audio kernel: struct-unpack PCM
        and sum squares in plain Python, compare every output row.
        Covers the round-12 ragged contract: per-event sample counts
        4 + event_id % 5 ∈ [4, 8], trailing partial windows emitted
        with their actual n_samples."""
        import hashlib
        import struct

        from proto_to_avro_ql_spark.entry_queries import QUERIES

        sf = "/root/testdata/sf0.001"
        import duckdb

        ids = [
            r[0]
            for r in duckdb.connect()
            .execute(f"SELECT event_id FROM '{sf}/events.parquet'")
            .fetchall()
        ]
        expect = {}
        for eid in ids:
            n = 4 + eid % 5
            pcm = hashlib.md5(str(eid).encode()).digest()[: 2 * n]
            samples = struct.unpack(f"<{n}h", pcm)
            for w in range(-(-n // 4)):
                chunk = samples[4 * w : 4 * w + 4]
                ss = sum(x * x for x in chunk)
                expect[(eid, w)] = (
                    len(chunk),
                    ss,
                    1 if ss < 1_200_000_000 else 0,
                )
        got = {
            (r["event_id"], r["win"]): (r["n_samples"], r["sum_sq"], r["is_silent"])
            for r in QUERIES["ext_audio_energy"](spark, sf).collect()
        }
        assert got == expect
        # Both verdicts occur on the synthetic corpus.
        flags = {v[2] for v in got.values()}
        assert flags == {0, 1}
        # Ragged coverage: full AND partial trailing windows occur.
        assert {v[0] for v in got.values()} > {4}

    def test_audio_energy_ragged_contract(self, spark):
        """Kernel-direct pins of the round-12 ragged contract: mixed
        per-row lengths in ONE batch, a zero-length payload emitting
        no rows, and the explicit odd-byte-length ValueError."""
        import pytest

        from proto_to_avro_ql_spark.operators.multimodal import (
            audio_window_energy,
        )

        # 3 samples (partial-only), 6 samples (full+partial), empty.
        rows = [
            (1, b"\x01\x00\x02\x00\x03\x00"),
            (2, b"\x01\x00" * 6),
            (3, b""),
        ]
        df = spark.createDataFrame(rows, "event_id long, payload binary")
        got = {
            (r.event_id, r.win): (r.n_samples, r.sum_sq)
            for r in audio_window_energy(df, window=4).collect()
        }
        assert got == {
            (1, 0): (3, 1 + 4 + 9),
            (2, 0): (4, 4),
            (2, 1): (2, 2),
        }
        bad = spark.createDataFrame(
            [(7, b"\x01\x00\x02")], "event_id long, payload binary"
        )
        with pytest.raises(Exception, match="even byte length"):
            audio_window_energy(bad, window=4).collect()

    def test_frame_sampling_reassembles(self, spark):
        from proto_to_avro_ql_spark.operators.multimodal import pack_blob, sample_frames

        df = spark.createDataFrame([(1, "abcdefghij")], "event_id long, props string")
        frames = sample_frames(pack_blob(df, "props", "t"), frame_bytes=4).collect()
        by_idx = sorted(frames, key=lambda r: r.frame_idx)
        assert b"".join(bytes(r.frame) for r in by_idx) == b"abcdefghij"
        assert [len(bytes(r.frame)) for r in by_idx] == [4, 4, 2]


class TestIncrementalRunner:
    def test_delta_processing(self, spark):
        import tempfile as _tf

        from proto_to_avro_ql_spark.sources.incremental import (
            IncrementalRunner,
            WatermarkStore,
        )

        runner = IncrementalRunner(WatermarkStore(_tf.mkdtemp(prefix="wm_")))
        outputs = []

        def sink(df):
            outputs.extend(r.event_id for r in df.collect())

        batch1 = spark.range(0, 5).toDF("event_id")
        n1 = runner.run(batch1, "p", "event_id", lambda d: d, sink)
        assert n1 == 5 and sorted(outputs) == [0, 1, 2, 3, 4]

        # second run over a grown source processes ONLY the new rows
        batch2 = spark.range(0, 8).toDF("event_id")
        n2 = runner.run(batch2, "p", "event_id", lambda d: d, sink)
        assert n2 == 3 and sorted(outputs) == [0, 1, 2, 3, 4, 5, 6, 7]

        # no new data → no-op, mark unchanged
        n3 = runner.run(batch2, "p", "event_id", lambda d: d, sink)
        assert n3 == 0 and len(outputs) == 8


class TestAsofEdges:
    def test_no_right_rows_yields_nulls(self, spark):
        from proto_to_avro_ql_spark.operators.asof import asof_join

        left = spark.createDataFrame(
            [(1, 10, "2024-01-01 01:00:00")], "event_id long, user_id long, ts string"
        ).withColumn("ts", F.to_timestamp("ts"))
        right = spark.createDataFrame(
            [], "event_id long, user_id long, ts timestamp, value double"
        )
        out = asof_join(left, right, key="user_id", ts="ts", right_payload=("value",)).first()
        assert out.value_asof is None

    def test_right_at_exact_ts_visible(self, spark):
        from proto_to_avro_ql_spark.operators.asof import asof_join

        left = spark.createDataFrame(
            [(1, 10, "2024-01-01 01:00:00")], "event_id long, user_id long, ts string"
        ).withColumn("ts", F.to_timestamp("ts"))
        right = spark.createDataFrame(
            [(2, 10, "2024-01-01 01:00:00", 7.5)],
            "event_id long, user_id long, ts string, value double",
        ).withColumn("ts", F.to_timestamp("ts"))
        out = asof_join(left, right, key="user_id", ts="ts", right_payload=("value",)).first()
        assert out.value_asof == 7.5

    def test_later_right_rows_invisible(self, spark):
        from proto_to_avro_ql_spark.operators.asof import asof_join

        left = spark.createDataFrame(
            [(1, 10, "2024-01-01 01:00:00")], "event_id long, user_id long, ts string"
        ).withColumn("ts", F.to_timestamp("ts"))
        right = spark.createDataFrame(
            [(2, 10, "2024-01-01 02:00:00", 9.9)],
            "event_id long, user_id long, ts string, value double",
        ).withColumn("ts", F.to_timestamp("ts"))
        out = asof_join(left, right, key="user_id", ts="ts", right_payload=("value",)).first()
        assert out.value_asof is None


class TestDynamicPartitionBackfill:
    def test_only_target_partition_rewritten(self, spark, sf_dir, tmp_path):
        import glob
        import os

        from pyspark.sql import functions as F

        from proto_to_avro_ql_spark.sources.io import read_table

        ev = read_table(spark, sf_dir, "events")
        daily = ev.groupBy(
            F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias("day"),
            "event_type",
        ).agg(F.count(F.lit(1)).alias("n_events"))
        path = str(tmp_path / "t")
        daily.write.mode("overwrite").partitionBy("day").parquet(path)

        def files():
            return {
                d: sorted(os.path.basename(f) for f in glob.glob(f"{path}/day={d}/*.parquet"))
                for d in sorted(
                    os.path.basename(p).split("=", 1)[1]
                    for p in glob.glob(f"{path}/day=*")
                )
            }

        before = files()
        target = sorted(before)[3]
        daily.where(F.col("day") == target).write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("day").parquet(path)
        after = files()
        assert set(before) == set(after)  # no partition vanished (static would truncate)
        assert after[target] != before[target]  # target rewritten (new file names)
        for d in before:
            if d != target:
                assert after[d] == before[d]  # untouched partitions keep their files


class TestReplayConnector:
    def test_connector_is_partitioned_and_lazy(self, spark, sf_dir):
        """The custom DataSource plans one task per staged file and
        reproduces the source rows exactly (set semantics — file
        assignment is partitioning-dependent)."""
        from proto_to_avro_ql_spark.entry_queries import QUERIES
        from proto_to_avro_ql_spark.sources.io import read_table

        out = QUERIES["src_replay_connector"](spark, sf_dir)
        assert out.rdd.getNumPartitions() == 4  # one per staged part file
        ev = read_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "value"
        )
        assert out.exceptAll(ev).count() == 0
        assert ev.exceptAll(out).count() == 0

    def test_connector_missing_path_fails_loudly(self, spark):
        from proto_to_avro_ql_spark.sources.replay_source import (
            ProtoReplayDataSource,
        )

        spark.dataSource.register(ProtoReplayDataSource)
        df = spark.read.format("proto_replay").option(
            "path", "/nonexistent-replay-dir"
        ).load()
        import pytest as _pytest

        with _pytest.raises(Exception, match="no replay part files"):
            df.count()

    def test_writer_two_phase_commit_leaves_no_temps(self, spark, tmp_path):
        """After a successful write: only final part files (no .tmp-*);
        overwrite mode replaces prior parts instead of accumulating."""
        from proto_to_avro_ql_spark.sources.replay_source import (
            ProtoReplayDataSource,
        )

        spark.dataSource.register(ProtoReplayDataSource)
        d = str(tmp_path / "out")
        df = spark.createDataFrame(
            [(1, 10, "view", 1.5), (2, 20, "click", 0.0)],
            "event_id long, user_id long, event_type string, value double",
        )
        df.repartition(2).write.format("proto_replay").option("path", d).mode(
            "append"
        ).save()
        import os

        names = sorted(os.listdir(d))
        assert all(n.startswith("part-") for n in names), names
        assert len(names) == 2
        # overwrite replaces, never accumulates
        df.repartition(1).write.format("proto_replay").option("path", d).mode(
            "overwrite"
        ).save()
        names2 = sorted(os.listdir(d))
        assert len(names2) == 1 and names2[0].startswith("part-"), names2
        back = spark.read.format("proto_replay").option("path", d).load()
        assert {r.event_id for r in back.collect()} == {1, 2}


class TestSessionTmpdirs:
    """Round-8 (r7 verdict #5): sink/source round-trip entries route
    their scratch dirs through one session-scoped registry that an
    atexit hook removes — a full 361-entry gate must leave /tmp no
    larger than it started."""

    def test_tmpdir_registers_and_cleanup_removes(self):
        import os

        from proto_to_avro_ql_spark import entry_registry as ER

        d = ER._tmpdir("tmpdir_unit_")
        assert os.path.isdir(d) and d in ER._SESSION_TMPDIRS
        # run the hook against ONLY our dir — other tests in this
        # session may have registered dirs their lazy plans still read
        saved = ER._SESSION_TMPDIRS[:]
        try:
            ER._SESSION_TMPDIRS[:] = [d]
            ER._cleanup_session_tmpdirs()
            assert not os.path.exists(d)
        finally:
            ER._SESSION_TMPDIRS[:] = [x for x in saved if x != d]

    def test_no_bare_mkdtemp_left_in_entry_registry(self):
        """Every scratch dir must go through _tmpdir, or gate sessions
        leak it; the helper itself is the single allowed call."""
        import inspect

        from proto_to_avro_ql_spark import entry_registry as ER

        src = inspect.getsource(ER)
        assert src.count("tempfile.mkdtemp(") == 1  # inside _tmpdir only

    def test_sink_entry_scratch_is_session_registered(self, spark, sf_dir):
        from proto_to_avro_ql_spark import entry_registry as ER
        from proto_to_avro_ql_spark.entry_queries import QUERIES

        before = len(ER._SESSION_TMPDIRS)
        QUERIES["sink_json"](spark, sf_dir).collect()
        assert len(ER._SESSION_TMPDIRS) > before

    def test_audio_zcr_matches_python(self, spark):
        """Third implementation of the ZCR/silence-trim kernel:
        struct-unpack PCM and compute crossings + lead/trail quiet
        runs in plain Python, compare every output row."""
        import hashlib
        import struct

        import duckdb

        from proto_to_avro_ql_spark.entry_queries import QUERIES

        sf = "/root/testdata/sf0.001"
        ids = [
            r[0]
            for r in duckdb.connect()
            .execute(f"SELECT event_id FROM '{sf}/events.parquet'")
            .fetchall()
        ]
        expect = {}
        for eid in ids:
            n = 4 + eid % 5
            pcm = hashlib.md5(str(eid).encode()).digest()[: 2 * n]
            x = struct.unpack(f"<{n}h", pcm)
            cross = sum(
                1 for i in range(n - 1) if (x[i] >= 0) != (x[i + 1] >= 0)
            )
            lead = 0
            while lead < n and abs(x[lead]) < 8192:
                lead += 1
            trail = 0
            while trail < n and abs(x[n - 1 - trail]) < 8192:
                trail += 1
            expect[eid] = (
                n,
                cross,
                cross * 1_000_000 // max(n - 1, 1),
                lead,
                trail,
            )
        got = {
            r["event_id"]: (
                r["n_samples"],
                r["n_crossings"],
                r["zcr_micro"],
                r["lead_silent"],
                r["trail_silent"],
            )
            for r in QUERIES["ext_audio_zcr"](spark, sf).collect()
        }
        assert got == expect
        # Contentful: some payloads have nonzero lead or trail trims.
        assert any(v[3] > 0 for v in got.values())
        assert any(v[4] > 0 for v in got.values())

    def test_audio_zcr_ragged_contract(self, spark):
        """Kernel-direct pins: mixed lengths incl. empty and 1-sample
        payloads in one batch; boundary pairs never counted; odd byte
        length raises the contract ValueError."""
        import pytest

        from proto_to_avro_ql_spark.operators.multimodal import audio_zcr

        rows = [
            # +1 then -1: one crossing; both loud
            (1, b"\x10\x20\xf0\xdf"),
            (2, b""),
            (3, b"\xff\x7f"),  # single loud sample: 0 crossings
            # quiet, quiet: 0 crossings, fully silent
            (4, b"\x01\x00\xff\xff"),
        ]
        df = spark.createDataFrame(rows, "event_id long, payload binary")
        got = {
            r.event_id: (
                r.n_samples,
                r.n_crossings,
                r.lead_silent,
                r.trail_silent,
            )
            for r in audio_zcr(df).collect()
        }
        assert got[1] == (2, 1, 0, 0)
        assert got[2] == (0, 0, 0, 0)
        assert got[3] == (1, 0, 0, 0)
        assert got[4] == (2, 1, 2, 2)  # +1 → -1 crosses; both quiet
        bad = spark.createDataFrame(
            [(7, b"\x01\x00\x02")], "event_id long, payload binary"
        )
        with pytest.raises(Exception, match="even byte length"):
            audio_zcr(bad).collect()
