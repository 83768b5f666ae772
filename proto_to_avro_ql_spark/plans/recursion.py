"""Recursive-schema support via depth-capped unrolling (SURVEY.md §1.4,
§2.2 rec_recursive).

The reference memoizes message nodes so a descriptor cycle reuses the
existing node (ProtoMessageToAvroMappings.scala:110, 164-177) — Avro
records may be recursive. Spark's StructType cannot be: the engine's
documented contract is to UNROLL a recursive message to ``max_depth``
levels, leaving the recursive field null at the cap (the tail can be
carried as a JSON string column if lossless capture is required).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


def unroll_recursive_schema(
    leaf_fields: list[T.StructField],
    child_field: str = "child",
    max_depth: int = 3,
) -> T.StructType:
    """Unroll ``message M { leaves...; M child; }`` to a fixed depth.
    At the cap, the recursive field is dropped (reads as null)."""
    if max_depth < 1:
        raise ValueError("max_depth must be >= 1")
    schema = T.StructType(leaf_fields)
    for _ in range(max_depth - 1):
        schema = T.StructType(leaf_fields + [T.StructField(child_field, schema)])
    return schema


def parse_recursive_json(
    col: Column,
    leaf_fields: list[T.StructField],
    child_field: str = "child",
    max_depth: int = 3,
) -> Column:
    """Parse a recursive JSON document into the depth-capped struct.
    from_json is a JVM expression — scales as a narrow projection."""
    return F.from_json(col, unroll_recursive_schema(leaf_fields, child_field, max_depth))


def make_chain_json(value_cols: list[Column]) -> Column:
    """Helper to synthesize a recursive JSON chain {"v":a,"child":{"v":b,...}}
    from per-level value columns (used by tests/fixtures)."""

    def build(i: int) -> Column:
        inner = build(i + 1) if i + 1 < len(value_cols) else F.lit("null")
        return F.concat(
            F.lit('{"v":'),
            value_cols[i].cast("string"),
            F.lit(',"child":'),
            inner,
            F.lit("}"),
        )

    return build(0)
