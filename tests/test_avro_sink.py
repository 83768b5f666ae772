"""True Avro container-file sink (sources/avro_sink.py).

Reference parity: DataFileWriter terminal sink (Main.scala:205-215).
These tests pin the container format itself (magic bytes, embedded
writer schema), the nullable-union mapping, and typed round trips read
back by the JVM's own DataFileReader and checked against values worked
out here in plain Python — independent of the DuckDB oracle on
sink_avro.
"""

from __future__ import annotations

import calendar
import datetime as dt
import decimal
import json
import os
import struct
import tempfile

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from proto_to_avro_ql_spark.sources.avro_sink import (
    avro_schema_json,
    read_avro_file,
    write_avro_file,
)
from proto_to_avro_ql_spark.sources.io import read_table


class TestAvroSink:
    def test_container_magic_and_schema(self, spark, sf_dir):
        n = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
        path = os.path.join(tempfile.mkdtemp(), "n.avro")
        count = write_avro_file(n, path, name="Nation")
        assert count == n.count()
        with open(path, "rb") as f:
            head = f.read(512)
        assert head[:4] == b"Obj\x01"  # Avro OCF magic
        assert b"avro.schema" in head
        assert b"Nation" in head

    def test_round_trip_types_and_nulls(self, spark, sf_dir):
        schema = T.StructType(
            [
                T.StructField("id", T.LongType(), False),
                T.StructField("name", T.StringType(), True),
                T.StructField("score", T.DoubleType(), True),
                T.StructField("flag", T.BooleanType(), True),
                T.StructField("day", T.DateType(), True),
            ]
        )
        rows = [
            Row(id=1, name="a", score=1.5, flag=True, day=dt.date(2024, 1, 15)),
            Row(id=2, name=None, score=None, flag=None, day=None),
        ]
        df = spark.createDataFrame(rows, schema)
        path = os.path.join(tempfile.mkdtemp(), "t.avro")
        write_avro_file(df, path)
        back = read_avro_file(spark, path, schema)
        got = {r["id"]: r for r in back.collect()}
        assert got[1]["name"] == "a" and got[1]["score"] == 1.5
        assert got[1]["day"] == dt.date(2024, 1, 15)
        assert got[2]["name"] is None and got[2]["flag"] is None

    def test_nullable_fields_become_unions(self, spark):
        schema = T.StructType(
            [
                T.StructField("a", T.LongType(), False),
                T.StructField("b", T.StringType(), True),
            ]
        )
        avro = json.loads(avro_schema_json(schema))
        by_name = {f["name"]: f for f in avro["fields"]}
        assert by_name["a"]["type"] == "long"
        assert by_name["b"]["type"] == ["null", "string"]
        assert by_name["b"]["default"] is None

    def test_max_rows_guard(self, spark, sf_dir):
        lineitem = read_table(spark, sf_dir, "lineitem").select("l_orderkey")
        path = os.path.join(tempfile.mkdtemp(), "big.avro")
        with pytest.raises(ValueError, match="report sink"):
            write_avro_file(lineitem, path, max_rows=10)

    def test_flagship_report_to_avro(self, spark, sf_dir):
        """The reference's actual flow: translated report -> Avro file."""
        from proto_to_avro_ql_spark.entry_queries import QUERIES

        rep = QUERIES["flagship_report"](spark, sf_dir)
        path = os.path.join(tempfile.mkdtemp(), "report.avro")
        count = write_avro_file(rep, path, name="CampaignReport")
        back = read_avro_file(spark, path, rep.schema)
        assert back.count() == count == rep.count()
        a = rep.orderBy("segments_date", "campaign_status").collect()
        b = back.orderBy("segments_date", "campaign_status").collect()
        assert a == b

    def test_two_nullable_struct_columns_round_trip(self, spark):
        """Record names derive from field paths, so sibling nested
        structs don't collide ('Can't redefine: Nested'), and union
        branch names match the path-derived record names."""
        schema = T.StructType(
            [
                T.StructField("id", T.LongType(), False),
                T.StructField(
                    "a",
                    T.StructType([T.StructField("x", T.LongType(), True)]),
                    True,
                ),
                T.StructField(
                    "b",
                    T.StructType([T.StructField("y", T.StringType(), True)]),
                    True,
                ),
            ]
        )
        df = spark.createDataFrame(
            [Row(id=1, a=Row(x=7), b=Row(y="hi")), Row(id=2, a=None, b=None)],
            schema,
        )
        path = os.path.join(tempfile.mkdtemp(), "nested.avro")
        assert write_avro_file(df, path) == 2
        with open(path, "rb") as f:
            assert f.read(4) == b"Obj\x01"


def _jvm_rows(spark, path: str, schema: T.StructType) -> tuple[list, int]:
    """Every record of the Avro file at ``path`` read by the JVM's
    DataFileReader, as plain Python values (logical types left in
    their Avro base encoding), and the number of blocks read."""
    jvm = spark._jvm
    reader = jvm.org.apache.avro.file.DataFileReader(
        jvm.java.io.File(path), jvm.org.apache.avro.generic.GenericDatumReader()
    )

    def value(v, t):
        if v is None:
            return None
        if isinstance(t, T.StructType):
            return tuple(value(v.get(f.name), f.dataType) for f in t.fields)
        if isinstance(t, T.ArrayType):
            return [value(v.get(i), t.elementType) for i in range(v.size())]
        if isinstance(t, T.BinaryType):
            return bytes(v.array())
        if isinstance(t, (T.StringType, T.DecimalType)):
            return v.toString()
        if isinstance(t, T.FloatType):  # py4j passes Float's shortest decimal text
            return struct.unpack("<f", struct.pack("<f", v))[0]
        return v

    rows, syncs = [], set()
    try:
        while reader.hasNext():
            rows.append(value(reader.next(), schema))
            syncs.add(reader.previousSync())
    finally:
        reader.close()
    return rows, len(syncs)


def _expected(v, t):
    """The Avro value of Spark value ``v``: dates as days and
    timestamps as microseconds since the epoch, decimals as text."""
    if v is None:
        return None
    if isinstance(t, T.StructType):
        return tuple(_expected(v[f.name], f.dataType) for f in t.fields)
    if isinstance(t, T.ArrayType):
        return [_expected(x, t.elementType) for x in v]
    if isinstance(t, T.DateType):
        return calendar.timegm(v.timetuple()) // 86400
    if isinstance(t, T.TimestampType):
        return calendar.timegm(v.timetuple()) * 1_000_000 + v.microsecond
    if isinstance(t, T.DecimalType):
        return str(v)
    if isinstance(t, T.BinaryType):
        return bytes(v)
    return v


class TestAvroBinaryAgainstJvmReader:
    def _round_trip(self, spark, df):
        path = os.path.join(tempfile.mkdtemp(), "t.avro")
        assert write_avro_file(df, path) == df.count()
        got, blocks = _jvm_rows(spark, path, df.schema)
        want = [_expected(r, df.schema) for r in df.collect()]
        assert got == want
        return blocks

    def test_every_avro_type_kind(self, spark):
        kinds = [
            ("l", T.LongType(), [0, -1, 1, 2**63 - 1, -(2**63), 300]),
            ("i", T.IntegerType(), [0, -64, 64, 2**31 - 1, -(2**31), 7]),
            ("d", T.DoubleType(), [0.0, -0.0, 1.5, float("inf"), -1e300, 2.2e-308]),
            ("f", T.FloatType(), [0.0, 0.5, -3.25, float("-inf"), 1e30, 6.0]),
            ("s", T.StringType(), ["", "a", "héllo wörld ✓", "x" * 200, "0", "b"]),
            ("b", T.BooleanType(), [True, False, True, False, True, False]),
            ("raw", T.BinaryType(), [b"", b"\x00", b"\xff\x80", bytes(range(256)), b"z", b"q"]),
            ("day", T.DateType(), [
                dt.date(1970, 1, 1), dt.date(1969, 12, 31), dt.date(2024, 2, 29),
                dt.date(1, 1, 1), dt.date(9999, 12, 31), dt.date(2000, 1, 1),
            ]),
            ("ts", T.TimestampType(), [
                dt.datetime(1970, 1, 1), dt.datetime(2024, 1, 15, 12, 30, 45, 123457),
                dt.datetime(1960, 6, 1, 0, 0, 0, 1), dt.datetime(2038, 1, 19, 3, 14, 8),
                dt.datetime(2001, 9, 9, 1, 46, 40, 999999), dt.datetime(1999, 12, 31, 23, 59, 59),
            ]),
            ("dec", T.DecimalType(18, 4), [
                decimal.Decimal(x)
                for x in ("0.0000", "-12.5000", "99999999999999.9999", "1.0001", "3.0000",
                          "-0.0001")
            ]),
            ("arr", T.ArrayType(T.LongType(), False),
             [[], [1], [-1, 2**40, 0], [5] * 300, [7], [8, 9]]),
        ]
        for nullable in (False, True):
            schema = T.StructType([T.StructField(n, t, nullable) for n, t, _ in kinds])
            rows = [tuple(vals[i] for _, _, vals in kinds) for i in range(6)]
            if nullable:
                rows.append(tuple(None for _ in kinds))
            self._round_trip(spark, spark.createDataFrame(rows, schema))

    def test_nullable_nested_records_and_arrays(self, spark):
        inner = T.StructType(
            [
                T.StructField("x", T.LongType(), True),
                T.StructField("tags", T.ArrayType(T.StringType(), False), True),
            ]
        )
        schema = T.StructType(
            [
                T.StructField("id", T.LongType(), False),
                T.StructField("a", inner, True),
                T.StructField("items", T.ArrayType(inner, False), True),
                T.StructField(
                    "b", T.StructType([T.StructField("a", inner, True)]), True
                ),
            ]
        )
        rows = [
            (1, (7, ["p", "q"]), [(1, []), (None, None)], ((2, ["r"]),)),
            (2, None, None, None),
            (3, (None, None), [], (None,)),
        ]
        self._round_trip(spark, spark.createDataFrame(rows, schema))

    def test_report_over_64kb_spans_blocks(self, spark):
        df = spark.range(600).select(
            F.col("id"),
            F.concat(F.lit("row-"), F.col("id").cast("string"), F.lit("-" + "x" * 300))
            .alias("text"),
            (F.col("id") * 1.25).alias("v"),
        )
        assert self._round_trip(spark, df) >= 3  # ~190 KB at a 64,000-byte sync interval
