"""Event time without a session timezone.

The parquet timestamps are stored without a zone and read as
timestamp_ntz, so no entry may depend on the session timezone. The
epoch-micros fragments are checked against plain Python, and the
entries that turn event time into numbers or text are run through
the oracle gate in a session whose zone is Asia/Kolkata (a non-hour
offset: a result rendered in the session zone would move by 5.5 h).
"""

from __future__ import annotations

import datetime as dt

import pytest

from proto_to_avro_ql_spark.functions.portable import epoch_micros, ntz_from_micros

EPOCH = dt.datetime(1970, 1, 1)
ZONE = "Asia/Kolkata"

WALL_CLOCKS = [
    dt.datetime(1970, 1, 1),
    dt.datetime(1969, 12, 31, 23, 59, 59, 999999),  # one micro before the epoch
    dt.datetime(1900, 3, 1, 0, 0, 0, 500000),  # pre-1970, sub-second
    dt.datetime(2024, 1, 20, 4, 30, 0, 1),  # sub-second, inside the test data
    dt.datetime(2024, 1, 30, 23, 59, 59, 999999),
]


def ref_epoch_micros(t: dt.datetime) -> int:
    """Plain-Python reference: whole microseconds from the epoch."""
    return (t - EPOCH) // dt.timedelta(microseconds=1)


@pytest.fixture
def zoned(spark):
    """A session whose timezone is not UTC; the shared one is untouched."""
    s = spark.newSession()
    s.conf.set("spark.sql.session.timeZone", ZONE)
    return s


class TestEpochMicrosFragments:
    def test_reference_values(self):
        assert ref_epoch_micros(WALL_CLOCKS[1]) == -1
        assert ref_epoch_micros(WALL_CLOCKS[2]) == -2_203_891_199_500_000

    def test_epoch_micros_matches_python(self, zoned):
        df = zoned.createDataFrame([(t,) for t in WALL_CLOCKS], "t timestamp_ntz")
        got = df.selectExpr("t", f"{epoch_micros('t')} AS us").collect()
        assert dict(df.selectExpr(f"{epoch_micros('t')} AS us").dtypes)["us"] == "bigint"
        assert {r.t: r.us for r in got} == {t: ref_epoch_micros(t) for t in WALL_CLOCKS}

    def test_ntz_from_micros_matches_python(self, zoned):
        us = [ref_epoch_micros(t) for t in WALL_CLOCKS]
        df = zoned.createDataFrame([(u,) for u in us], "us long")
        out = df.selectExpr("us", f"{ntz_from_micros('us')} AS t")
        assert dict(out.dtypes)["t"] == "timestamp_ntz"
        assert {r.us: r.t for r in out.collect()} == dict(zip(us, WALL_CLOCKS))

    def test_round_trip(self, zoned):
        df = zoned.createDataFrame([(t,) for t in WALL_CLOCKS], "t timestamp_ntz")
        back = df.selectExpr("t", f"{ntz_from_micros(epoch_micros('t'))} AS back")
        assert all(r.t == r.back for r in back.collect())


# The five entries that turn event time into epoch micros, the two
# streaming entries that render window bounds, and the entry that
# compares ts with a cast literal cutoff (21 sf0.001 events lie within
# 10 h of it, so a cutoff read in another zone than ts moves them).
ZONE_SENSITIVE = [
    "ext_conversion_lag",
    "ext_overlap_join",
    "ext_interarrival",
    "ext_range_frame",
    "ext_time_weighted_avg",
    "ext_stream_window",
    "ext_stream_append_sink",
    "ext_pit_features",
]


class TestSessionIndependence:
    @pytest.mark.parametrize("name", ZONE_SENSITIVE)
    def test_hash_exact_in_a_non_utc_session(self, zoned, sf_dir, name):
        from proto_to_avro_ql_spark.entry_queries import ORACLES, QUERIES
        from tests.oracle_check import compare

        res = compare(zoned, sf_dir, name, QUERIES[name], ORACLES[name])
        assert res["ok"], res
        assert zoned.conf.get("spark.sql.session.timeZone") == ZONE
