"""Custom Python DataSource connector (Spark 4 DataSource API).

The reference's defining input is a CUSTOM SOURCE — a gRPC row stream
consumed lazily (Main.scala:60-66, 90-95) with a line-file replay
format beside it (Main.scala:106-120: one base64-encoded proto row per
line, decoded on read). Spark's idiomatic answer to "my input is a
protocol, not a file format" is the DataSource API; this module
implements the replay format as a REAL partitioned connector:

- ``partitions()`` returns one ``InputPartition`` per staged line
  file — the planner schedules them as independent tasks, so the read
  scales with file count exactly like any file-based source;
- ``read(partition)`` streams its file line by line, base64-decodes
  each line, and wire-decodes 8192 lines at a time with the in-repo
  batch decoder (sources/protodec.py — the env has no protobuf
  jar/module, see src_proto_decode), yielding Arrow record batches
  lazily (an iterator, not a materialized list — the reference's lazy
  ``Iterator[GoogleAdsRow]`` shape).

Worker-shipping (driver-parity-sim finding): the DataSource API runs
schema()/reader()/read() in PYTHON WORKERS that do not inherit the
driver's sys.path, so NOTHING here may import the package at call
time. All package references (the Event batch encoder and decoder) are
resolved at module load on the driver and travel inside the by-value
pickle (this module and protodec are both registered self-contained —
see pickling.py).
"""

from __future__ import annotations

import base64
import glob
import itertools
import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)

from proto_to_avro_ql_spark.sources.protodec import decode_events, encode_events

_BATCH_LINES = 8192


def _decode_replay_file(path: str):
    """The flat event rows of one replay line file, as Arrow record
    batches of up to ``_BATCH_LINES`` rows (one batch decode each)."""
    lines: list[bytes] = []
    with open(path, "rb") as fh:
        for line in fh:
            line = line.strip()
            if line:
                lines.append(base64.b64decode(line))
            if len(lines) >= _BATCH_LINES:
                yield decode_events(lines)
                lines = []
    if lines:
        yield decode_events(lines)


class ProtoReplayDataSource(DataSource):
    """``spark.read.format("proto_replay").option("path", dir)`` over a
    directory of base64-proto line files."""

    @classmethod
    def name(cls) -> str:
        return "proto_replay"

    def schema(self) -> str:
        return "event_id bigint, user_id bigint, event_type string, value double"

    def reader(self, schema) -> "ProtoReplayReader":
        return ProtoReplayReader(self.options["path"])

    def writer(self, schema, overwrite: bool) -> "ProtoReplayWriter":
        return ProtoReplayWriter(self.options["path"], overwrite)


class ProtoReplayReader(DataSourceReader):
    def __init__(self, path: str) -> None:
        self._path = path

    def partitions(self):  # one task per staged line file
        files = sorted(glob.glob(os.path.join(self._path, "part-*")))
        if not files:
            raise FileNotFoundError(f"no replay part files under {self._path}")
        return [InputPartition(f) for f in files]

    def read(self, partition):
        # columnar both ways: one batch decode per 8192 lines, and the
        # Python->JVM hop carries Arrow record batches, not pickled rows
        yield from _decode_replay_file(partition.value)


class ProtoReplayStreamSource(DataSource):
    """STREAMING twin of the connector — the reference's actual input
    mode (a lazily-consumed gRPC row stream, Main.scala:60-66,
    90-95): ``spark.readStream.format("proto_replay_stream")`` tails a
    replay directory; offsets are indexes into the sorted file list.
    Uses the FULL stream-reader API: the driver only plans (offset
    arithmetic + one InputPartition per new file); decode runs in
    EXECUTOR tasks, one per file — the same work placement as the
    batch connector, so throughput scales with cores (the simple
    stream-reader variant prefetches and decodes rows ON THE DRIVER,
    the classic driver-bottleneck shape: measured 5.5s vs 2.3s for
    100k rows at sf0.1). Same worker-shipping hygiene: no package
    imports at call time."""

    @classmethod
    def name(cls) -> str:
        return "proto_replay_stream"

    def schema(self) -> str:
        return "event_id bigint, user_id bigint, event_type string, value double"

    def streamReader(self, schema) -> "ProtoReplayStreamReader":
        return ProtoReplayStreamReader(self.options["path"])


class ProtoReplayStreamReader(DataSourceStreamReader):
    def __init__(self, path: str) -> None:
        self._path = path

    def _files(self) -> list[str]:
        return sorted(glob.glob(os.path.join(self._path, "part-*")))

    def initialOffset(self) -> dict:
        return {"idx": 0}

    def latestOffset(self) -> dict:
        # everything visible now; availableNow drains up to this point
        return {"idx": len(self._files())}

    def partitions(self, start: dict, end: dict):
        files = self._files()
        return [
            InputPartition(files[i]) for i in range(start["idx"], end["idx"])
        ] or [InputPartition(None)]  # Spark requires >= 1 partition

    def read(self, partition):
        # EXECUTOR-side decode, one task per file (scales with cores)
        if partition.value is None:
            return
        yield from _decode_replay_file(partition.value)

    def commit(self, end: dict) -> None:
        pass  # replay files are immutable; nothing to clean up


class _ReplayCommit(WriterCommitMessage):
    def __init__(self, tmp: str, final: str) -> None:
        self.tmp = tmp
        self.final = final


class ProtoReplayWriter(DataSourceWriter):
    """Write side of the connector — the reference's write-through cache
    (Main.scala:67-104: results staged as base64-proto lines keyed by
    query). Each task proto-encodes its rows 8192 at a time with the
    batch encoder and writes a TEMP file; the driver-side ``commit``
    renames every temp to its final
    ``part-NNNNN`` name only after ALL tasks succeed — the standard
    two-phase output commit, so a failed/retried task can never leave a
    half-written part visible to the readers above. ``abort`` removes
    the temps. Same worker-shipping hygiene as the readers: the proto
    encoder is bound at module load and travels by value."""

    def __init__(self, path: str, overwrite: bool) -> None:
        self._path = path
        self._overwrite = overwrite

    def write(self, iterator) -> _ReplayCommit:
        import uuid

        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        os.makedirs(self._path, exist_ok=True)
        tmp = os.path.join(self._path, f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "wb") as fh:
            while rows := list(itertools.islice(iterator, _BATCH_LINES)):
                for msg in encode_events(*zip(*rows)):
                    fh.write(base64.b64encode(msg) + b"\n")
        return _ReplayCommit(tmp, os.path.join(self._path, f"part-{pid:05d}"))

    def commit(self, messages) -> None:
        if self._overwrite:
            for old in glob.glob(os.path.join(self._path, "part-*")):
                os.remove(old)
        for m in messages:
            os.replace(m.tmp, m.final)

    def abort(self, messages) -> None:
        for m in messages:
            if os.path.exists(m.tmp):
                os.remove(m.tmp)


from proto_to_avro_ql_spark.pickling import register_self_contained  # noqa: E402

register_self_contained(__name__)
