"""Protobuf binary ingestion — the reference's defining input.

The reference consumes a compiled proto ``Descriptor`` plus binary
``GeneratedMessageV3`` messages and translates them field-by-field
(reference: ProtoToAvroTranslator.scala:26-33 ``translate(proto)``;
Main.scala:195-198 consumes a gRPC row stream). Spark's first-class
answer is ``pyspark.sql.protobuf.functions.from_protobuf``, but in this
environment it is unusable: the spark-protobuf jar is not shipped
(probed 2026-08-13 — calling it raises
``[PROTOBUF_NOT_LOADED_SQL_FUNCTIONS_UNUSABLE]``) and no python
``google.protobuf`` module exists to compile descriptors.

So this module implements the protobuf WIRE FORMAT directly — it is a
small, stable, public spec (varint / zigzag / fixed64 / fixed32 /
length-delimited): https://protobuf.dev/programming-guides/encoding/.

- :class:`MessageSpec` / :class:`FieldSpec` — the ``Descriptor`` analog
  (field number → name/type/label), declared in code the way the
  reference receives a compiled descriptor.
- :func:`decode_batch` / :func:`encode_batch` — the production codec,
  a batch at a time. Each call compiles its spec once into closures
  keyed on the wire key ``(number << 3) | wire``. Decode reads each
  payload once, hands field numbers the spec does not hold to
  ``_skip`` (so a :meth:`MessageSpec.project`-ed spec runs only the
  queried fields' decoders), keeps a row's values in a slot list until
  the whole row has decoded, and builds one ``pa.StructArray`` from
  the batch's slot columns. Encode builds each field's wire bytes
  column by column and joins them per row. Neither side builds a
  per-row dict.
- :func:`decode_message` / :func:`encode_message` — the one-message
  reference codec, sharing no code with the batch codec: dict ↔ proto
  bytes with proto3 semantics (missing scalars take their type default,
  missing sub-messages are null, repeated fields accept both packed and
  unpacked encodings, later occurrences of a field win). Tests pin it
  to the spec's published bytes and the batch codec to it.
- :func:`decode_proto` — the Spark operator: ``mapInArrow`` over the
  binary column, one :func:`decode_batch` per Arrow batch, emitting the
  typed nested struct column. Python-side decode is the sanctioned
  slow path for a genuinely opaque codec (same stance as
  operators/multimodal.py); on a cluster with the spark-protobuf jar,
  swap this call for ``from_protobuf(col, msg, binaryDescriptorSet=...)``
  — the schema contract (spec ↔ StructType) is identical by
  construction.

Malformed input raises ``ValueError`` and nothing else
(``UnicodeDecodeError`` is one): every read is bounds-checked against
its enclosing message or packed region, and a packed region must end
exactly at its declared length.

Scale notes: decode is embarrassingly parallel (per-batch, no shuffle);
the binary column never shuffles — decode immediately after the scan,
then project/prune. Arrow moves bytes JVM→Python and the decoded
struct back in batches.
"""

from __future__ import annotations

import gc
import struct
from collections.abc import Mapping
from dataclasses import dataclass, field
from functools import partial
from typing import Any, Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import types as T

# --- descriptor analog -----------------------------------------------------

_SCALAR_SPARK_TYPES = {
    "int64": T.LongType(),
    "int32": T.IntegerType(),
    "sint64": T.LongType(),
    "bool": T.BooleanType(),
    "double": T.DoubleType(),
    "float": T.FloatType(),
    "string": T.StringType(),
    "bytes": T.BinaryType(),
}

_SCALAR_DEFAULTS = {
    "int64": 0,
    "int32": 0,
    "sint64": 0,
    "bool": False,
    "double": 0.0,
    "float": 0.0,
    "string": "",
    "bytes": b"",
}

# wire types per kind
_WIRE_VARINT, _WIRE_FIXED64, _WIRE_LEN, _WIRE_FIXED32 = 0, 1, 2, 5
_KIND_WIRE = {
    "int64": _WIRE_VARINT,
    "int32": _WIRE_VARINT,
    "sint64": _WIRE_VARINT,
    "bool": _WIRE_VARINT,
    "double": _WIRE_FIXED64,
    "float": _WIRE_FIXED32,
    "string": _WIRE_LEN,
    "bytes": _WIRE_LEN,
    "message": _WIRE_LEN,
}


@dataclass(frozen=True)
class FieldSpec:
    number: int
    name: str
    kind: str  # one of _SCALAR_SPARK_TYPES keys, or "message"
    repeated: bool = False
    message: "MessageSpec | None" = None

    def __post_init__(self) -> None:
        if self.kind == "message":
            assert self.message is not None, f"{self.name}: message spec required"
        else:
            assert self.kind in _SCALAR_SPARK_TYPES, f"unknown kind {self.kind}"


@dataclass(frozen=True)
class MessageSpec:
    name: str
    fields: tuple[FieldSpec, ...] = field(default_factory=tuple)

    def spark_schema(self) -> T.StructType:
        out = []
        for f in self.fields:
            if f.kind == "message":
                dt: T.DataType = f.message.spark_schema()
            else:
                dt = _SCALAR_SPARK_TYPES[f.kind]
            if f.repeated:
                dt = T.ArrayType(dt, containsNull=False)
            out.append(T.StructField(f.name, dt, nullable=True))
        return T.StructType(out)

    def by_number(self) -> dict[int, FieldSpec]:
        return {f.number: f for f in self.fields}

    def project(self, names: "tuple[str, ...] | list[str]") -> "MessageSpec":
        """Column pruning for the opaque path: a spec restricted to
        ``names`` decodes ONLY those fields — everything else is
        skipped at the wire level (cheap varint hops, no value
        materialization), the per-row analog of parquet ReadSchema
        pruning. Order follows the original declaration."""
        keep = set(names)
        unknown = keep - {f.name for f in self.fields}
        assert not unknown, f"unknown fields {sorted(unknown)} on {self.name}"
        return MessageSpec(
            self.name, tuple(f for f in self.fields if f.name in keep)
        )


# --- reference codec (one message as a dict) ------------------------------


def _write_varint(buf: bytearray, v: int) -> None:
    v &= (1 << 64) - 1  # two's-complement for negative int64 (10-byte form)
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            buf.append(b | 0x80)
        else:
            buf.append(b)
            return


def _read_varint(data: bytes, pos: int) -> tuple[int, int]:
    result = 0
    shift = 0
    while True:
        if pos >= len(data):
            raise ValueError("truncated varint")
        b = data[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
        if shift >= 70:
            raise ValueError("varint too long")
    return result, pos


def _zigzag(v: int) -> int:
    return (v << 1) ^ (v >> 63)


def _unzigzag(v: int) -> int:
    v &= (1 << 64) - 1  # a varint may carry up to 70 bits; sint64 keeps 64
    return (v >> 1) ^ -(v & 1)


def _to_i64(v: int) -> int:
    v &= (1 << 64) - 1
    return v - (1 << 64) if v >= (1 << 63) else v


def _to_i32(v: int) -> int:
    v &= (1 << 32) - 1
    return v - (1 << 32) if v >= (1 << 31) else v


def _encode_scalar(buf: bytearray, f: FieldSpec, v: Any) -> None:
    _write_varint(buf, (f.number << 3) | _KIND_WIRE[f.kind])
    if f.kind in ("int64", "int32"):
        _write_varint(buf, int(v))
    elif f.kind == "sint64":
        _write_varint(buf, _zigzag(int(v)))
    elif f.kind == "bool":
        _write_varint(buf, 1 if v else 0)
    elif f.kind == "double":
        buf.extend(struct.pack("<d", float(v)))
    elif f.kind == "float":
        buf.extend(struct.pack("<f", float(v)))
    elif f.kind == "string":
        enc = str(v).encode("utf-8")
        _write_varint(buf, len(enc))
        buf.extend(enc)
    elif f.kind == "bytes":
        _write_varint(buf, len(v))
        buf.extend(v)
    elif f.kind == "message":
        sub = encode_message(f.message, v)
        _write_varint(buf, len(sub))
        buf.extend(sub)


def encode_message(spec: MessageSpec, values: dict[str, Any]) -> bytes:
    """Canonical encoding: fields in declaration order; proto3 scalar
    defaults are skipped (the decoder restores them); None skipped."""
    buf = bytearray()
    for f in spec.fields:
        v = values.get(f.name)
        if v is None:
            continue
        if f.repeated:
            for item in v:
                _encode_scalar(buf, f, item)
        else:
            if f.kind != "message" and v == _SCALAR_DEFAULTS[f.kind]:
                continue
            _encode_scalar(buf, f, v)
    return bytes(buf)


def _skip_unknown(data: bytes, pos: int, wire: int) -> int:
    if wire == _WIRE_VARINT:
        _, pos = _read_varint(data, pos)
    elif wire == _WIRE_FIXED64:
        pos += 8
    elif wire == _WIRE_FIXED32:
        pos += 4
    elif wire == _WIRE_LEN:
        n, pos = _read_varint(data, pos)
        pos += n
    else:
        raise ValueError(f"unsupported wire type {wire}")
    if pos > len(data):
        raise ValueError("truncated field")
    return pos


def _decode_value(f: FieldSpec, data: bytes, pos: int, wire: int) -> tuple[Any, int]:
    if wire != _KIND_WIRE[f.kind]:
        raise ValueError(f"wire type {wire} does not match {f.kind} field {f.name}")
    if f.kind == "message":
        n, pos = _read_varint(data, pos)
        if pos + n > len(data):
            raise ValueError(f"length-delimited field {f.name} past end of buffer")
        return decode_message(f.message, data[pos : pos + n]), pos + n
    if wire == _WIRE_VARINT:
        raw, pos = _read_varint(data, pos)
        if f.kind == "sint64":
            return _unzigzag(raw), pos
        if f.kind == "bool":
            return bool(raw), pos
        if f.kind == "int32":
            return _to_i32(raw), pos
        return _to_i64(raw), pos
    if wire == _WIRE_FIXED64:
        if pos + 8 > len(data):
            raise ValueError(f"truncated fixed64 field {f.name}")
        return struct.unpack_from("<d", data, pos)[0], pos + 8
    if wire == _WIRE_FIXED32:
        if pos + 4 > len(data):
            raise ValueError(f"truncated fixed32 field {f.name}")
        return struct.unpack_from("<f", data, pos)[0], pos + 4
    if wire == _WIRE_LEN:
        n, pos = _read_varint(data, pos)
        if pos + n > len(data):
            raise ValueError(f"length-delimited field {f.name} past end of buffer")
        raw_b = data[pos : pos + n]
        if f.kind == "string":
            return raw_b.decode("utf-8"), pos + n
        return bytes(raw_b), pos + n
    raise ValueError(f"wire type {wire} for {f.name}")


def decode_message(spec: MessageSpec, data: bytes) -> dict[str, Any]:
    """proto3 semantics: unknown fields skipped, missing scalars get
    type defaults, missing sub-messages are None, last scalar wins,
    repeated scalars accept packed (length-delimited) encoding."""
    nums = spec.by_number()
    out: dict[str, Any] = {}
    for f in spec.fields:
        if f.repeated:
            out[f.name] = []
        elif f.kind == "message":
            out[f.name] = None
        else:
            out[f.name] = _SCALAR_DEFAULTS[f.kind]
    pos = 0
    while pos < len(data):
        key, pos = _read_varint(data, pos)
        number, wire = key >> 3, key & 7
        f = nums.get(number)
        if f is None:
            pos = _skip_unknown(data, pos, wire)  # unknown field: skip, don't fail
            continue
        if f.repeated and wire == _WIRE_LEN and _KIND_WIRE[f.kind] != _WIRE_LEN:
            n, pos = _read_varint(data, pos)  # packed repeated scalars
            end = pos + n
            if end > len(data):
                raise ValueError(f"packed field {f.name} past end of buffer")
            while pos < end:
                v, pos = _decode_value(f, data, pos, _KIND_WIRE[f.kind])
                out[f.name].append(v)
            if pos != end:
                raise ValueError(f"packed field {f.name} overruns its length")
            continue
        v, pos = _decode_value(f, data, pos, wire)
        if f.repeated:
            out[f.name].append(v)
        else:
            out[f.name] = v
    return out


# --- batch codec (production) ---------------------------------------------

_MASK64 = (1 << 64) - 1
_ARROW_SCALARS = {
    "int64": pa.int64(),
    "int32": pa.int32(),
    "sint64": pa.int64(),
    "bool": pa.bool_(),
    "double": pa.float64(),
    "float": pa.float32(),
    "string": pa.string(),
    "bytes": pa.binary(),
}
# raw varint -> field value, and the bound below which the two agree
_VARINT_VALUE = {
    "int64": (lambda v: (v & _MASK64) - ((v & (1 << 63)) << 1), 1 << 63),
    "int32": (lambda v: (v & 0xFFFFFFFF) - ((v & (1 << 31)) << 1), 1 << 31),
    "sint64": (lambda v: ((v & _MASK64) >> 1) ^ -(v & 1), 0),
    "bool": (bool, 0),
}
_FIXED = {"double": "<d", "float": "<f"}  # formats: a Struct does not pickle
# how a key's value lands in its slot
_ONE, _ELEMENT, _PACKED = 0, 1, 2


def _arrow_type(f: FieldSpec) -> pa.DataType:
    """The Arrow type Spark expects for ``f`` (``MessageSpec.spark_schema``
    through Spark's own Arrow mapping)."""
    t = _arrow_struct(f.message) if f.kind == "message" else _ARROW_SCALARS[f.kind]
    return pa.list_(pa.field("element", t, nullable=False)) if f.repeated else t


def _arrow_struct(spec: MessageSpec) -> pa.StructType:
    return pa.struct([pa.field(f.name, _arrow_type(f)) for f in spec.fields])


def _varint_at(data: bytes, pos: int) -> tuple[int, int]:
    """(value, next pos) of the varint at ``pos``. Reading past the
    buffer raises IndexError, which the batch decoder reports as a
    truncated payload."""
    result = shift = 0
    while True:
        b = data[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if b < 0x80:
            return result, pos
        shift += 7
        if shift >= 70:
            raise ValueError("varint too long")


def _skip(data: bytes, pos: int, wire: int, end: int) -> int:
    """Hop over one field the spec does not hold, within ``end``."""
    if wire == _WIRE_VARINT:
        _, pos = _varint_at(data, pos)
    elif wire == _WIRE_FIXED64:
        pos += 8
    elif wire == _WIRE_FIXED32:
        pos += 4
    elif wire == _WIRE_LEN:
        n, pos = _varint_at(data, pos)
        pos += n
    else:
        raise ValueError(f"unsupported wire type {wire}")
    if pos > end:
        raise ValueError("truncated field")
    return pos


def _value_reader(f: FieldSpec, sub_decode):
    """``read(data, pos, end) -> (value, pos)`` for one value of ``f``.
    Reads are bounded by ``end``, except that a varint may run past it;
    its caller then sees ``pos > end`` and rejects the message."""
    if f.kind in _VARINT_VALUE:
        conv, same_below = _VARINT_VALUE[f.kind]
        small = [conv(b) for b in range(0x80)]

        def read(data, pos, end):
            b = data[pos]
            if b < 0x80:
                return small[b], pos + 1
            v, shift = b & 0x7F, 7
            while True:  # _varint_at, inlined on the hot path
                pos += 1
                b = data[pos]
                v |= (b & 0x7F) << shift
                if b < 0x80:
                    return (v if v < same_below else conv(v)), pos + 1
                shift += 7
                if shift >= 70:
                    raise ValueError("varint too long")

        return read
    if f.kind in _FIXED:
        fixed = struct.Struct(_FIXED[f.kind])
        width, unpack = fixed.size, fixed.unpack_from

        def read(data, pos, end):
            stop = pos + width
            if stop > end:
                raise ValueError(f"truncated {f.kind} field {f.name}")
            return unpack(data, pos)[0], stop

        return read
    if f.kind == "string":
        finish = lambda data, a, b: data[a:b].decode("utf-8")  # noqa: E731
    elif f.kind == "bytes":
        finish = lambda data, a, b: bytes(data[a:b])  # noqa: E731
    else:
        finish = sub_decode

    def read(data, pos, end):
        n = data[pos]
        if n < 0x80:
            pos += 1
        else:
            n, pos = _varint_at(data, pos)
        stop = pos + n
        if stop > end:
            raise ValueError(f"length-delimited field {f.name} past end of message")
        return finish(data, pos, stop), stop

    return read


def _read_packed(data, pos, end, out: list, read, name: str) -> int:
    n, pos = _varint_at(data, pos)
    stop = pos + n
    if stop > end:
        raise ValueError(f"packed field {name} past end of message")
    while pos < stop:
        v, pos = read(data, pos, stop)
        out.append(v)
    if pos != stop:
        raise ValueError(f"packed field {name} overruns its length")
    return pos


def _column_builder(f: FieldSpec, sub):
    """``build(column) -> pa.Array`` for ``f``'s slot column (a tuple
    with one slot value per row; a repeated slot is None when empty)."""
    if f.kind == "message":
        sub_build, sub_defaults, sub_fields = sub

        def items(col):  # sub-message slot lists, none null
            return pa.StructArray.from_arrays(sub_build(col), fields=sub_fields)

    else:
        t = _ARROW_SCALARS[f.kind]

        def items(col):
            return pa.array(col, type=t)

    if f.repeated:
        list_t = _arrow_type(f)

        def build(col):
            offsets, values = [0], []
            for lst in col:
                if lst:
                    values += lst
                offsets.append(len(values))
            return pa.ListArray.from_arrays(
                pa.array(offsets, pa.int32()), items(values), type=list_t
            )

        return build
    if f.kind != "message":
        return items

    def build(col):
        nulls = [s is None for s in col]
        if True not in nulls:
            return items(col)
        filled = [sub_defaults if s is None else s for s in col]
        return pa.StructArray.from_arrays(
            sub_build(filled), fields=sub_fields, mask=pa.array(nulls, pa.bool_())
        )

    return build


def _compile(spec: MessageSpec):
    """``(decode_row, build, defaults, fields)`` for ``spec``:
    ``decode_row(data, pos, end)`` returns one slot list for the message
    in ``data[pos:end]`` (raising ValueError — or IndexError past the
    buffer — on malformed input), and ``build(rows)`` turns a list of
    slot lists into the struct's child arrays."""
    table: dict[int, tuple] = {}  # wire key -> (slot, read, how)
    builders, defaults = [], []
    for i, f in enumerate(spec.fields):
        sub = _compile(f.message) if f.kind == "message" else None
        read = _value_reader(f, sub and sub[0])
        key = (f.number << 3) | _KIND_WIRE[f.kind]
        table[key] = (i, read, _ELEMENT if f.repeated else _ONE)
        if f.repeated and _KIND_WIRE[f.kind] != _WIRE_LEN:
            table[(f.number << 3) | _WIRE_LEN] = (i, read, _PACKED)
        builders.append(_column_builder(f, sub and sub[1:]))
        scalar = not f.repeated and f.kind != "message"
        defaults.append(_SCALAR_DEFAULTS[f.kind] if scalar else None)
    numbers = frozenset(f.number for f in spec.fields)
    lookup = table.get

    def decode_row(data, pos, end):
        slots = defaults[:]
        while pos < end:
            key = data[pos]
            if key < 0x80:
                pos += 1
            else:
                key, pos = _varint_at(data, pos)
            entry = lookup(key)
            if entry is None:
                if key >> 3 in numbers:
                    raise ValueError(
                        f"wire type {key & 7} does not match field {key >> 3} of {spec.name}"
                    )
                pos = _skip(data, pos, key & 7, end)
                continue
            i, read, how = entry
            if how == _ONE:
                slots[i], pos = read(data, pos, end)
                continue
            if slots[i] is None:
                slots[i] = []
            if how == _ELEMENT:
                v, pos = read(data, pos, end)
                slots[i].append(v)
            else:
                pos = _read_packed(data, pos, end, slots[i], read, spec.fields[i].name)
        if pos != end:
            raise ValueError(f"a field overruns message {spec.name}")
        return slots

    def build(rows):
        cols = zip(*rows) if rows else [()] * len(builders)
        return [b(c) for b, c in zip(builders, cols)]

    return decode_row, build, defaults, list(_arrow_struct(spec))


def _without_cycle_gc(fn, *args):
    """``fn(*args)`` with the cycle collector paused. A batch allocates
    ~10^4 short-lived lists, tuples and bytes and forms no cycles, yet
    each allocation burst triggers collections that scan the whole
    heap; pausing them halves decode time. Reference counting still
    frees everything."""
    if not gc.isenabled():
        return fn(*args)
    gc.disable()
    try:
        return fn(*args)
    finally:
        gc.enable()


def _batch_decoder(spec: MessageSpec):
    """Compile ``spec`` once; returns ``decode(payloads, on_error)``."""
    decode_row, build, defaults, fields = _compile(spec)

    def decode_one(data):
        try:
            return decode_row(data, 0, len(data))
        except IndexError:  # a read ran off the end of the payload
            raise ValueError(f"truncated {spec.name} payload") from None

    def run(payloads, on_error: str) -> pa.StructArray:
        if isinstance(payloads, (pa.Array, pa.ChunkedArray)):
            payloads = payloads.to_pylist()
        strict = on_error == "fail"
        rows, nulls = [], []
        for data in payloads:
            row = None
            if data is not None:
                try:
                    row = decode_one(data)
                except ValueError:
                    if strict:
                        raise
            # a row joins the batch only once it has decoded whole
            nulls.append(row is None)
            rows.append(defaults if row is None else row)
        mask = pa.array(nulls, pa.bool_()) if True in nulls else None
        return pa.StructArray.from_arrays(build(rows), fields=fields, mask=mask)

    def decode(payloads, on_error: str = "fail") -> pa.StructArray:
        return _without_cycle_gc(run, payloads, on_error)

    return decode


def decode_batch(spec: MessageSpec, payloads, on_error: str = "fail") -> pa.StructArray:
    """Decode a batch of proto payloads (a binary Arrow array or a
    sequence of bytes; null payloads give null rows) into one
    ``StructArray`` typed as ``spec.spark_schema()``. Row for row it
    equals :func:`decode_message`. ``on_error="fail"`` raises ValueError
    on the first malformed payload; ``"null"`` makes that row null and
    leaves its neighbours intact."""
    assert on_error in ("fail", "null"), on_error
    return _batch_decoder(spec)(payloads, on_error)


_VARINT1 = [bytes([b]) for b in range(0x80)]


def _varint_bytes(v: int) -> bytes:
    if v < 0x4000:
        if v >= 0x80:
            return bytes((v & 0x7F | 0x80, v >> 7))
        if v >= 0:
            return _VARINT1[v]
    elif v < 0x200000:
        return bytes((v & 0x7F | 0x80, v >> 7 & 0x7F | 0x80, v >> 14))
    v &= _MASK64
    out = bytearray()
    while v > 0x7F:
        out.append((v & 0x7F) | 0x80)
        v >>= 7
    out.append(v)
    return bytes(out)


def _len_prefixed(b: bytes) -> bytes:
    return _varint_bytes(len(b)) + b


# field value -> wire bytes after the key, per scalar kind
_ENCODE_VALUE = {
    "int64": _varint_bytes,
    "int32": _varint_bytes,
    "sint64": lambda v: _varint_bytes((v << 1) ^ (v >> 63)),
    "bool": lambda v: b"\x01" if v else b"\x00",
    "double": partial(struct.pack, "<d"),
    "float": partial(struct.pack, "<f"),
    "string": lambda v: _len_prefixed(v.encode("utf-8")),
    "bytes": _len_prefixed,
}


def _n_rows(columns) -> int:
    if isinstance(columns, (pa.StructArray, pa.Array, pa.ChunkedArray)):
        return len(columns)
    if isinstance(columns, Mapping):
        return next((_n_rows(c) for c in columns.values() if c is not None), 0)
    return len(columns)


def _field_bytes(f: FieldSpec, col, n: int) -> list[bytes]:
    """Per row, the wire bytes of field ``f`` (b"" where it is absent)."""
    key = _varint_bytes((f.number << 3) | _KIND_WIRE[f.kind])
    if f.kind == "message" and f.repeated:
        if not isinstance(col, pa.ListArray):
            raise TypeError(f"repeated message {f.name} takes a list<struct> Arrow array")
        offs = col.offsets.to_pylist()
        base = offs[0]
        n_items = offs[-1] - base
        subs = _encode_rows(f.message, col.values.slice(base, n_items), n_items)
        items = [key + _len_prefixed(s) for s in subs]
        return [b"".join(items[a - base : b - base]) for a, b in zip(offs, offs[1:])]
    if f.kind == "message":
        subs = _encode_rows(f.message, col, n)
        return [b"" if s is None else key + _len_prefixed(s) for s in subs]
    enc = _ENCODE_VALUE[f.kind]
    vals = col.to_pylist() if isinstance(col, (pa.Array, pa.ChunkedArray)) else col
    if f.repeated:
        return [b"".join([key + enc(v) for v in lst]) if lst else b"" for lst in vals]
    # None and the proto3 default (0, 0.0, -0.0, False, "", b"") are not written
    return [key + enc(v) if v else b"" for v in vals]


def _encode_rows(spec: MessageSpec, columns, n: int) -> list:
    """Encoded messages of ``n`` rows; a null row of a StructArray
    gives None."""
    present = None
    if isinstance(columns, pa.StructArray):
        if columns.null_count:
            present = columns.is_valid().to_pylist()
        columns = {t.name: c for t, c in zip(columns.type, columns.flatten())}
    elif not isinstance(columns, Mapping):
        raise TypeError(f"message {spec.name} takes a column mapping or a StructArray")
    frags = [
        _field_bytes(f, columns[f.name], n)
        for f in spec.fields
        if columns.get(f.name) is not None
    ]
    if not frags:
        rows = [b""] * n
    elif len(frags) == 1:
        rows = frags[0]
    else:
        rows = [b"".join(parts) for parts in zip(*frags)]
    if present is not None:
        rows = [r if ok else None for r, ok in zip(rows, present)]
    return rows


def encode_batch(spec: MessageSpec, columns) -> list[bytes]:
    """Encode a batch of messages, byte-identical to
    :func:`encode_message` row by row. ``columns`` is a ``StructArray``
    typed like ``spec`` or a mapping of field name → column: a column
    is an Arrow array or a sequence of values (None = unset); a
    sub-message column is a ``StructArray`` (null rows unset) or a
    mapping of its own columns (set in every row); a repeated
    sub-message column is a list<struct> Arrow array. Fields missing
    from the mapping are unset. A null row of a top-level StructArray
    encodes to None."""
    return _without_cycle_gc(_encode_rows, spec, columns, _n_rows(columns))


# --- Spark operator --------------------------------------------------------


def decode_proto(
    df: DataFrame,
    binary_col: str,
    spec: MessageSpec,
    out_col: str = "msg",
    keep_cols: tuple[str, ...] = (),
    on_error: str = "fail",
) -> DataFrame:
    """Decode a binary proto column into a typed nested struct.

    One ``mapInArrow`` pass: each task compiles ``spec`` once, then each
    Arrow batch of payloads becomes one :func:`decode_batch` struct
    column next to ``keep_cols`` — no per-row dicts, no pandas, no
    shuffle; the binary payload is pruned right after decode. Pass a
    :meth:`MessageSpec.project`-ed spec to decode only the queried
    fields. Swap for ``from_protobuf`` where the jar exists.

    ``on_error``: ``"fail"`` (default) raises on a malformed payload —
    the strict mode you want while developing a schema; ``"null"``
    yields a null struct for that row only (the PERMISSIVE-mode analog
    of Spark's JSON/CSV readers) so one corrupt record in 100 TB doesn't
    kill the job — filter ``{out_col} IS NULL`` into a quarantine sink.
    """
    assert on_error in ("fail", "null"), on_error
    out_schema = T.StructType(
        [df.schema[c] for c in keep_cols]
        + [T.StructField(out_col, spec.spark_schema(), nullable=True)]
    )
    names = [*keep_cols, out_col]

    def batches(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        decode = _batch_decoder(spec)
        for batch in it:
            cols = [batch.column(c) for c in keep_cols]
            cols.append(decode(batch.column(binary_col), on_error))
            yield pa.RecordBatch.from_arrays(cols, names=names)

    return df.mapInArrow(batches, schema=out_schema)


# Descriptor analog for an event message with a nested sub-message —
# the shape the reference receives as a compiled proto Descriptor
# (canonical home: this module ships by value to workers, so anything
# that executes in a Python worker — decode paths, the DataSource
# connector — can reference these without a worker-side package import).
EVENT_META_SPEC = MessageSpec(
    "EventMeta",
    (FieldSpec(1, "event_type", "string"), FieldSpec(2, "value", "double")),
)
EVENT_SPEC = MessageSpec(
    "Event",
    (
        FieldSpec(1, "event_id", "int64"),
        FieldSpec(2, "user_id", "int64"),
        FieldSpec(3, "meta", "message", message=EVENT_META_SPEC),
    ),
)


def encode_events(event_id, user_id, event_type, value) -> list[bytes]:
    """The Event encoder: four columns of the events table (Arrow arrays
    or sequences) to one ``EVENT_SPEC`` payload per row, ``meta`` set in
    every row."""
    return encode_batch(
        EVENT_SPEC,
        {
            "event_id": event_id,
            "user_id": user_id,
            "meta": {"event_type": event_type, "value": value},
        },
    )


def decode_events(payloads) -> pa.RecordBatch:
    """``EVENT_SPEC`` payloads to the flat ``(event_id, user_id,
    event_type, value)`` batch; an unset ``meta`` gives null
    ``event_type``/``value``. Raises ValueError on a malformed payload."""
    event_id, user_id, meta = decode_batch(EVENT_SPEC, payloads).flatten()
    event_type, value = meta.flatten()
    return pa.RecordBatch.from_arrays(
        [event_id, user_id, event_type, value],
        names=["event_id", "user_id", "event_type", "value"],
    )


# Executor workers don't share the driver's sys.path patch — ship this
# module's worker-executed functions by value (see pickling.py).
from proto_to_avro_ql_spark.pickling import register_self_contained  # noqa: E402

register_self_contained(__name__)
