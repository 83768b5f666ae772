"""Wire-format conformance + Spark round-trip for sources/protodec.

The encoder and decoder are both in-repo, so the oracle's
decode(encode(x)) == x identity alone can't rule out a shared
misreading of the spec. These tests pin the BYTES against the worked
examples in the public protobuf encoding guide
(https://protobuf.dev/programming-guides/encoding/), then exercise
proto3 semantics (defaults, unknown fields, packed repeated, last-wins)
and the Spark mapInArrow round trip. The batch codec
(decode_batch/encode_batch) is pinned row for row to the one-message
reference codec (decode_message/encode_message), which shares no code
with it.
"""

from __future__ import annotations

import struct

import pyarrow as pa
import pytest

from proto_to_avro_ql_spark.sources import protodec
from proto_to_avro_ql_spark.sources.protodec import (
    EVENT_SPEC,
    FieldSpec,
    MessageSpec,
    decode_batch,
    decode_message,
    decode_proto,
    encode_batch,
    encode_events,
    encode_message,
)

INT_MSG = MessageSpec("Test1", (FieldSpec(1, "a", "int64"),))
STR_MSG = MessageSpec("Test2", (FieldSpec(2, "b", "string"),))
PACKED_MSG = MessageSpec("Test4", (FieldSpec(4, "d", "int32", repeated=True),))
SINT_MSG = MessageSpec("TestS", (FieldSpec(1, "s", "sint64"),))


def test_golden_varint_from_spec():
    # protobuf encoding guide: Test1{a: 150} == `08 96 01`
    assert encode_message(INT_MSG, {"a": 150}) == bytes.fromhex("089601")
    assert decode_message(INT_MSG, bytes.fromhex("089601")) == {"a": 150}


def test_golden_string_from_spec():
    # guide: Test2{b: "testing"} == `12 07` + "testing"
    wire = bytes.fromhex("1207") + b"testing"
    assert encode_message(STR_MSG, {"b": "testing"}) == wire
    assert decode_message(STR_MSG, wire) == {"b": "testing"}


def test_golden_packed_repeated_from_spec():
    # guide: Test4{d: [3, 270, 86942]} packed == `22 06 03 8E 02 9E A7 05`
    wire = bytes.fromhex("2206038e029ea705")
    assert decode_message(PACKED_MSG, wire) == {"d": [3, 270, 86942]}
    # unpacked encoding of the same values must decode identically
    unpacked = bytes.fromhex("2003") + bytes.fromhex("208e02") + bytes.fromhex("209ea705")
    assert decode_message(PACKED_MSG, unpacked) == {"d": [3, 270, 86942]}


def test_negative_int64_ten_byte_varint():
    wire = encode_message(INT_MSG, {"a": -2})
    # two's complement: -2 encodes as 10 varint bytes, FE FF ... 01
    assert wire == bytes.fromhex("08feffffffffffffffff01")
    assert decode_message(INT_MSG, wire) == {"a": -2}


def test_sint64_zigzag():
    # guide: zigzag(-1) == 1, zigzag(-2) == 3
    assert encode_message(SINT_MSG, {"s": -1}) == bytes.fromhex("0801")
    assert decode_message(SINT_MSG, bytes.fromhex("0801")) == {"s": -1}
    assert decode_message(SINT_MSG, bytes.fromhex("0803")) == {"s": -2}


def test_proto3_defaults_and_missing_message():
    spec = MessageSpec(
        "M",
        (
            FieldSpec(1, "i", "int64"),
            FieldSpec(2, "s", "string"),
            FieldSpec(3, "f", "double"),
            FieldSpec(4, "sub", "message", message=INT_MSG),
        ),
    )
    # default-valued scalars are skipped on encode and restored on decode
    assert encode_message(spec, {"i": 0, "s": "", "f": 0.0}) == b""
    assert decode_message(spec, b"") == {"i": 0, "s": "", "f": 0.0, "sub": None}


def test_unknown_fields_skipped():
    # encode with a wider spec, decode with a narrower one
    wide = MessageSpec(
        "W",
        (
            FieldSpec(1, "a", "int64"),
            FieldSpec(2, "b", "string"),
            FieldSpec(3, "c", "double"),
        ),
    )
    wire = encode_message(wide, {"a": 7, "b": "x", "c": 2.5})
    assert decode_message(INT_MSG, wire) == {"a": 7}


def test_last_scalar_wins():
    wire = bytes.fromhex("0801") + bytes.fromhex("0802")
    assert decode_message(INT_MSG, wire) == {"a": 2}


ALL_SPEC = MessageSpec(
    "All",
    (
        FieldSpec(1, "i64", "int64"),
        FieldSpec(2, "i32", "int32"),
        FieldSpec(3, "s64", "sint64"),
        FieldSpec(4, "flag", "bool"),
        FieldSpec(5, "d", "double"),
        FieldSpec(6, "fl", "float"),
        FieldSpec(7, "txt", "string"),
        FieldSpec(8, "raw", "bytes"),
        FieldSpec(9, "tags", "int64", repeated=True),
        FieldSpec(
            10,
            "subs",
            "message",
            repeated=True,
            message=MessageSpec(
                "Sub", (FieldSpec(1, "name", "string"), FieldSpec(2, "score", "double"))
            ),
        ),
    ),
)
ALL_MSG = {
    "i64": -(1 << 62),
    "i32": -123,
    "s64": -456,
    "flag": True,
    "d": 3.141592653589793,
    "fl": 0.5,
    "txt": "héllo wörld",
    "raw": b"\x00\x01\xff",
    "tags": [1, 0, -1],
    "subs": [{"name": "a", "score": 1.5}, {"name": "", "score": 0.0}],
}


def test_nested_round_trip_all_kinds():
    assert decode_message(ALL_SPEC, encode_message(ALL_SPEC, ALL_MSG)) == ALL_MSG


@pytest.mark.usefixtures("spark")
def test_spark_round_trip_events(spark):
    from proto_to_avro_ql_spark.entry_queries import QUERIES
    from proto_to_avro_ql_spark.sources.io import read_table

    sf = "/root/testdata/sf0.001"
    got = {
        r.event_id: (r.user_id, r.event_type, r.value)
        for r in QUERIES["src_proto_decode"](spark, sf).collect()
    }
    want = {
        r.event_id: (r.user_id, r.event_type, r.value)
        for r in read_table(spark, sf, "events")
        .select("event_id", "user_id", "event_type", "value")
        .collect()
    }
    assert got == want  # exact, including float bits (fixed64 round trip)


@pytest.mark.usefixtures("spark")
def test_spark_decode_null_payload_and_unknown_fields(spark):
    import pandas as pd

    from proto_to_avro_ql_spark.entry_registry import EVENT_SPEC

    wide = MessageSpec(
        "EventWide",
        EVENT_SPEC.fields + (FieldSpec(15, "extra", "string"),),
    )
    rows = [
        (1, encode_message(wide, {"event_id": 1, "user_id": 2, "extra": "ignored"})),
        (2, None),
    ]
    df = spark.createDataFrame(rows, "row_id long, pb binary")
    out = {
        r.row_id: r.msg
        for r in decode_proto(df, "pb", EVENT_SPEC, keep_cols=("row_id",)).collect()
    }
    assert out[1].event_id == 1 and out[1].user_id == 2
    assert out[1].meta is None  # missing sub-message → null
    assert out[2] is None  # null payload → null struct


def test_spec_projection_prunes_decode():
    spec = MessageSpec(
        "M",
        (
            FieldSpec(1, "a", "int64"),
            FieldSpec(2, "b", "string"),
            FieldSpec(3, "c", "double"),
        ),
    )
    wire = encode_message(spec, {"a": 7, "b": "wide text payload", "c": 2.5})
    pruned = spec.project(["a", "c"])
    assert decode_message(pruned, wire) == {"a": 7, "c": 2.5}  # b skipped
    assert [f.name for f in pruned.spark_schema().fields] == ["a", "c"]
    with pytest.raises(AssertionError):
        spec.project(["nope"])


@pytest.mark.usefixtures("spark")
def test_spark_decode_corrupt_payload_permissive(spark):
    from proto_to_avro_ql_spark.entry_registry import EVENT_SPEC

    good = encode_message(EVENT_SPEC, {"event_id": 7, "user_id": 8})
    rows = [
        (1, good),
        (2, b"\xff\xff\xff"),  # truncated varint key
        (3, bytes.fromhex("0a03") + b"x"),  # length past end of buffer
    ]
    df = spark.createDataFrame(rows, "row_id long, pb binary")
    out = {
        r.row_id: r.msg
        for r in decode_proto(
            df, "pb", EVENT_SPEC, keep_cols=("row_id",), on_error="null"
        ).collect()
    }
    assert out[1].event_id == 7
    assert out[2] is None and out[3] is None  # quarantined, job survives
    # strict mode must raise on the same input
    with pytest.raises(Exception):
        decode_proto(df, "pb", EVENT_SPEC, on_error="fail").collect()


# --- property-based round trip (hypothesis) --------------------------------

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    _HYP = True
except ImportError:  # pragma: no cover
    _HYP = False

FULL_SPEC = MessageSpec(
    "P",
    (
        FieldSpec(1, "i", "int64"),
        FieldSpec(2, "s64", "sint64"),
        FieldSpec(3, "flag", "bool"),
        FieldSpec(4, "d", "double"),
        FieldSpec(5, "txt", "string"),
        FieldSpec(6, "raw", "bytes"),
        FieldSpec(7, "tags", "int64", repeated=True),
        FieldSpec(8, "sub", "message", message=INT_MSG),
    ),
)

if _HYP:
    i64 = st.integers(min_value=-(2**63), max_value=2**63 - 1)

    @settings(max_examples=200, deadline=None)
    @given(
        i=i64,
        s64=i64,
        flag=st.booleans(),
        d=st.floats(allow_nan=False),  # NaN != NaN breaks dict equality, not the codec
        txt=st.text(max_size=50),
        raw=st.binary(max_size=50),
        tags=st.lists(i64, max_size=8),
        sub_a=i64,
    )
    def test_property_round_trip(i, s64, flag, d, txt, raw, tags, sub_a):
        msg = {
            "i": i,
            "s64": s64,
            "flag": flag,
            "d": d,
            "txt": txt,
            "raw": raw,
            "tags": tags,
            "sub": {"a": sub_a},
        }
        assert decode_message(FULL_SPEC, encode_message(FULL_SPEC, msg)) == msg


def test_fuzz_decode_never_hangs_or_crashes_unexpectedly():
    """hypothesis: decode_message on ARBITRARY bytes either returns a
    dict or raises ValueError (the one error class decode_proto's
    PERMISSIVE path catches) — never loops
    forever, never dies on an unexpected exception type. This is the
    guarantee the 100 TB ingest path leans on: one corrupt payload
    must cost one null row, not an executor."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from proto_to_avro_ql_spark.entry_registry import EVENT_SPEC
    from proto_to_avro_ql_spark.sources.protodec import decode_message

    @settings(max_examples=500, deadline=None)
    @given(st.binary(max_size=64))
    def check(data):
        try:
            out = decode_message(EVENT_SPEC, data)
        except ValueError:
            return  # quarantined by decode_proto's PERMISSIVE path
        assert isinstance(out, dict)

    check()


def test_fuzz_mutated_valid_payloads():
    """Flip/truncate bytes of a VALID encoded message: decode must
    still terminate with a dict or a ValueError."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from proto_to_avro_ql_spark.entry_registry import EVENT_SPEC
    from proto_to_avro_ql_spark.sources.protodec import (
        decode_message,
        encode_message,
    )

    base = encode_message(
        EVENT_SPEC, {"event_id": 71, "user_id": 8, "event_type": "view"}
    )

    @settings(max_examples=500, deadline=None)
    @given(
        st.integers(0, max(len(base) - 1, 0)),
        st.integers(0, 255),
        st.integers(0, len(base)),
    )
    def check(flip_at, flip_to, cut_at):
        mutated = bytearray(base)
        mutated[flip_at] = flip_to
        data = bytes(mutated[:cut_at])
        try:
            out = decode_message(EVENT_SPEC, data)
        except ValueError:
            return
        assert isinstance(out, dict)

    check()


# --- batch codec against the one-message reference -------------------------


def _arrow_struct(spec):
    """The Arrow type Spark gives ``spec.spark_schema()``."""
    from pyspark.sql.pandas.types import to_arrow_type

    return to_arrow_type(spec.spark_schema())


def _outcome(decode):
    """repr of the decoded row (equal for equal floats, NaN included),
    or "ValueError"."""
    try:
        return repr(decode())
    except ValueError:
        return "ValueError"


def assert_batch_agrees(spec, payloads):
    """decode_batch gives decode_message's dict, or raises ValueError
    where it does, for each payload alone (strict) and for the whole
    batch at once (on_error="null": exactly the failing rows are null)."""
    want = [_outcome(lambda d=d: decode_message(spec, d)) for d in payloads]
    alone = [_outcome(lambda d=d: decode_batch(spec, [d]).to_pylist()[0]) for d in payloads]
    assert alone == want
    together = decode_batch(spec, payloads, on_error="null").to_pylist()
    assert ["ValueError" if r is None else repr(r) for r in together] == want


PACKED_DOUBLE = MessageSpec("PD", (FieldSpec(1, "ds", "double", repeated=True),))
FLOAT_MSG = MessageSpec("F", (FieldSpec(1, "f", "float"),))


@pytest.mark.parametrize(
    "spec, data",
    [
        # packed varint of declared length 1 whose value needs 2 bytes
        (FULL_SPEC, bytes([0x3A, 0x01, 0x96, 0x01])),
        # packed double of declared length 4: the value needs 8 bytes
        (PACKED_DOUBLE, bytes([0x0A, 0x04]) + struct.pack("<d", 1.5)),
        (PACKED_DOUBLE, bytes([0x0A, 0x04, 0, 0, 0, 0])),
        # packed region longer than the buffer
        (PACKED_DOUBLE, bytes([0x0A, 0x09]) + bytes(8)),
        # fixed64 truncated inside a sub-message, fixed32 at the end
        (EVENT_SPEC, bytes([0x1A, 0x02, 0x11, 0x00])),
        (FLOAT_MSG, bytes([0x0D, 0x00, 0x00])),
        # fixed64 past the end of its sub-message, inside the buffer
        (EVENT_SPEC, bytes([0x1A, 0x02, 0x11, 0x80, 0x01]) + bytes(8)),
        # varint past the end of its sub-message; the parent would
        # read on from there as an unknown fixed64 field
        (FULL_SPEC, bytes([0x42, 0x02, 0x08, 0x80, 0x01]) + bytes(8)),
    ],
)
def test_malformed_vectors_raise_value_error(spec, data):
    with pytest.raises(ValueError):
        decode_message(spec, data)
    with pytest.raises(ValueError):
        decode_batch(spec, [data])
    assert decode_batch(spec, [data], on_error="null").to_pylist() == [None]


def test_batch_codec_on_golden_and_all_kinds():
    golden = [
        (PACKED_MSG, bytes.fromhex("2206038e029ea705")),
        (PACKED_MSG, bytes.fromhex("2003208e02209ea705")),
        (INT_MSG, bytes.fromhex("08feffffffffffffffff01")),
        (SINT_MSG, bytes.fromhex("0803")),
        (INT_MSG, bytes.fromhex("0801") + bytes.fromhex("0802")),
        (ALL_SPEC, encode_message(ALL_SPEC, ALL_MSG)),
        (ALL_SPEC, b""),
    ]
    for spec, wire in golden:
        assert decode_batch(spec, [wire]).to_pylist() == [decode_message(spec, wire)]
    msgs = [ALL_MSG, {}, {"tags": [], "subs": [{}]}, {"d": -0.0, "fl": float("nan")}]
    wires = encode_batch(ALL_SPEC, pa.array(msgs, type=_arrow_struct(ALL_SPEC)))
    assert wires == [encode_message(ALL_SPEC, m) for m in msgs]
    assert_batch_agrees(ALL_SPEC, wires)


def test_encode_events_matches_reference():
    cols = (
        [1, 0, 2**40, -5],
        [7, 0, 8, 9],
        ["click", "", None, "view"],
        [1.5, 0.0, -0.0, float("nan")],
    )
    want = [
        encode_message(
            EVENT_SPEC,
            {"event_id": e, "user_id": u, "meta": {"event_type": t, "value": v}},
        )
        for e, u, t, v in zip(*cols)
    ]
    assert encode_events(*cols) == want
    assert encode_events(*(pa.array(c) for c in cols)) == want
    assert encode_batch(EVENT_SPEC, pa.array([None], type=_arrow_struct(EVENT_SPEC))) == [None]


def test_one_field_projection_runs_no_other_decoder(monkeypatch):
    """A projected spec's decode hands every other field to ``_skip``:
    their values are never read — a string of invalid UTF-8 and a
    garbage sub-message do not fail it — and only the kept field's
    reader runs."""
    from collections import Counter

    spec = MessageSpec(
        "Wide",
        (
            FieldSpec(1, "a", "int64"),
            FieldSpec(2, "b", "string"),
            FieldSpec(3, "c", "message", message=INT_MSG),
            FieldSpec(4, "d", "double"),
            FieldSpec(5, "e", "int64", repeated=True),
        ),
    )
    wire = (
        bytes.fromhex("0807")  # a = 7
        + bytes.fromhex("1202ffff")  # b: invalid UTF-8
        + bytes.fromhex("1a01ff")  # c: truncated varint inside
        + bytes.fromhex("21") + struct.pack("<d", 2.5)
        + bytes.fromhex("2a020102")  # e: packed [1, 2]
    )
    with pytest.raises(ValueError):
        decode_batch(spec, [wire])
    calls = Counter()
    real = protodec._value_reader

    def counting(f, sub_decode):
        read = real(f, sub_decode)

        def counted(data, pos, end):
            calls[f.name] += 1
            return read(data, pos, end)

        return counted

    monkeypatch.setattr(protodec, "_value_reader", counting)
    got = decode_batch(spec.project(["a"]), [wire] * 3).to_pylist()
    assert got == [{"a": 7}] * 3 == [decode_message(spec.project(["a"]), wire)] * 3
    assert calls == {"a": 3}


def test_corrupt_middle_row_is_one_null():
    good = [
        encode_message(
            EVENT_SPEC,
            {"event_id": i, "user_id": i + 1, "meta": {"event_type": "view", "value": i / 4}},
        )
        for i in (1, 2)
    ]
    # decodes event_id and user_id, then fails inside meta
    bad = encode_message(EVENT_SPEC, {"event_id": 99, "user_id": 98}) + bytes.fromhex("1a050a")
    got = decode_batch(EVENT_SPEC, [good[0], bad, None, good[1]], on_error="null")
    want = [decode_message(EVENT_SPEC, good[0]), None, None, decode_message(EVENT_SPEC, good[1])]
    assert got.to_pylist() == want
    assert got.null_count == 2
    with pytest.raises(ValueError):
        decode_batch(EVENT_SPEC, [good[0], bad, good[1]])


@pytest.mark.usefixtures("spark")
def test_spark_corrupt_middle_row_keeps_neighbours(spark):
    good = [
        encode_message(
            EVENT_SPEC,
            {"event_id": i, "user_id": 2 * i, "meta": {"event_type": "x", "value": 0.5}},
        )
        for i in range(1, 4)
    ]
    bad = encode_message(EVENT_SPEC, {"event_id": 99}) + bytes.fromhex("1a050a")
    rows = [(1, good[0]), (2, bad), (3, good[1]), (4, good[2])]
    df = spark.createDataFrame(rows, "row_id long, pb binary").coalesce(1)
    out = decode_proto(df, "pb", EVENT_SPEC, keep_cols=("row_id",), on_error="null")
    got = {r.row_id: (r.msg.asDict(recursive=True) if r.msg else None) for r in out.collect()}
    assert got == {
        1: decode_message(EVENT_SPEC, good[0]),
        2: None,
        3: decode_message(EVENT_SPEC, good[1]),
        4: decode_message(EVENT_SPEC, good[2]),
    }


if _HYP:
    _maybe = lambda s: st.one_of(st.none(), s)  # noqa: E731
    full_messages = st.fixed_dictionaries(
        {
            "i": _maybe(i64),
            "s64": _maybe(i64),
            "flag": _maybe(st.booleans()),
            "d": _maybe(st.floats()),
            "txt": _maybe(st.text(max_size=20)),
            "raw": _maybe(st.binary(max_size=20)),
            "tags": _maybe(st.lists(i64, max_size=5)),
            "sub": _maybe(st.fixed_dictionaries({"a": _maybe(i64)})),
        }
    )

    @settings(max_examples=200, deadline=None)
    @given(st.lists(full_messages, max_size=6))
    def test_property_batch_codec_matches_reference(msgs):
        wires = [encode_message(FULL_SPEC, m) for m in msgs]
        assert encode_batch(FULL_SPEC, pa.array(msgs, type=_arrow_struct(FULL_SPEC))) == wires
        assert_batch_agrees(FULL_SPEC, wires)

    @settings(max_examples=300, deadline=None)
    @given(st.lists(st.binary(max_size=48), max_size=4))
    def test_fuzz_batch_decode_matches_reference(payloads):
        for spec in (EVENT_SPEC, FULL_SPEC):
            assert_batch_agrees(spec, payloads)

    @settings(max_examples=300, deadline=None)
    @given(full_messages, st.data())
    def test_fuzz_mutated_batch_decode_matches_reference(msg, data):
        wire = bytearray(encode_message(FULL_SPEC, msg))
        if wire:
            at = data.draw(st.integers(0, len(wire) - 1))
            wire[at] = data.draw(st.integers(0, 255))
        cut = data.draw(st.integers(0, len(wire)))
        assert_batch_agrees(FULL_SPEC, [bytes(wire), bytes(wire[:cut])])
