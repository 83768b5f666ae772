"""Custom stateful streaming operator: gap-based sessionization with
``applyInPandasWithState`` (the north-star 'custom stateful operators'
surface; no reference analog — the reference's stream is stateless,
Main.scala:60-66).

Per-user state carries (last_ts_micros, session_seq) across micro-
batches; events in each batch are sorted by event time inside the
group. Drain it with ``events.drain_to_memory(stream_sessionize(...),
"update")``; each run starts from a fresh checkpoint.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from proto_to_avro_ql_spark.streaming.events import stream_events

# A user's next event starts a new session after this much silence.
SESSION_GAP_MINUTES = 30

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("session_seq", T.LongType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_ts_us", T.LongType()),
        T.StructField("session_seq", T.LongType()),
    ]
)


def _sessionize_group(
    key: Tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    last_ts_us, seq = state.get if state.exists else (None, 0)
    gap_us = SESSION_GAP_MINUTES * 60 * 1_000_000

    batch = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
    out_seq = []
    for ts in batch["ts"]:
        ts_us = int(ts.value // 1_000)  # pandas ns → µs
        if last_ts_us is None or ts_us - last_ts_us > gap_us:
            seq += 1
        last_ts_us = ts_us
        out_seq.append(seq)

    state.update((last_ts_us, seq))
    yield pd.DataFrame(
        {
            "user_id": user_id,
            "event_id": batch["event_id"].values,
            "session_seq": out_seq,
        }
    )


def stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = stream_events(spark, sf_dir).select("user_id", "event_id", "ts")
    return ev.groupBy("user_id").applyInPandasWithState(
        _sessionize_group,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# Executor workers don't share the driver's sys.path patch — ship this
# module's worker-executed functions by value (see pickling.py).
from proto_to_avro_ql_spark.pickling import register_self_contained  # noqa: E402

register_self_contained(__name__)
