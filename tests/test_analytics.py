from __future__ import annotations

import datetime as dt

from proto_to_avro_ql_spark.operators.analytics import (
    conversion_funnel,
    mad_outliers,
    retention_cohorts,
)


def _ev(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, event_type string, value double"
    )


T0 = dt.datetime(2024, 1, 1)


def _at(minutes: int) -> dt.datetime:
    return T0 + dt.timedelta(minutes=minutes)


class TestConversionFunnel:
    def test_order_matters(self, spark):
        """A purchase BEFORE the first click must not count as stage 3."""
        ev = _ev(
            spark,
            [
                # user 1: full ordered funnel
                (1, _at(0), 1, "view", 1.0),
                (2, _at(1), 1, "click", 1.0),
                (3, _at(2), 1, "purchase", 1.0),
                # user 2: purchase precedes click — reaches click only
                (4, _at(0), 2, "view", 1.0),
                (5, _at(1), 2, "purchase", 1.0),
                (6, _at(2), 2, "click", 1.0),
                # user 3: click with no prior view — reaches nothing
                (7, _at(0), 3, "click", 1.0),
            ],
        )
        row = conversion_funnel(ev).first()
        assert (row.n_users, row.n_view, row.n_click, row.n_purchase) == (3, 2, 2, 1)

    def test_same_timestamp_counts_as_reached(self, spark):
        ev = _ev(
            spark,
            [(1, _at(0), 1, "view", 1.0), (2, _at(0), 1, "click", 1.0)],
        )
        row = conversion_funnel(ev).first()
        assert row.n_click == 1  # ts >= reach time is inclusive


class TestRetentionCohorts:
    def test_offsets_from_first_week(self, spark):
        ev = _ev(
            spark,
            [
                (1, dt.datetime(2024, 1, 1), 1, "view", 1.0),   # Mon, cohort wk 0
                (2, dt.datetime(2024, 1, 10), 1, "view", 1.0),  # week offset 1
                (3, dt.datetime(2024, 1, 22), 1, "view", 1.0),  # week offset 3
                (4, dt.datetime(2024, 1, 10), 2, "view", 1.0),  # own cohort, offset 0
            ],
        )
        out = {
            (r.cohort_week, r.week_offset): r.n_users
            for r in retention_cohorts(ev).collect()
        }
        assert out == {
            ("2024-01-01", 0): 1,
            ("2024-01-01", 1): 1,
            ("2024-01-01", 3): 1,
            ("2024-01-08", 0): 1,
        }


class TestMadOutliers:
    def test_flags_only_beyond_k_mad(self, spark):
        # values 1..5 plus a wild 100: median 3.5? (1,2,3,4,5,100) -> med 3.5,
        # deviations (2.5,1.5,.5,.5,1.5,96.5) -> MAD 1.5; k=1.5 -> cut 2.25
        ev = _ev(
            spark,
            [
                (i, _at(i), 1, "t", float(v))
                for i, v in enumerate([1, 2, 3, 4, 5, 100])
            ],
        )
        out = mad_outliers(ev, k=1.5).collect()
        assert sorted(r.value for r in out) == [1.0, 100.0]

    def test_immune_to_outlier_inflation(self, spark):
        """The wild point must not lift the threshold enough to hide
        itself (the stddev-based z-score failure mode)."""
        vals = [10.0] * 10 + [10.5] * 10 + [1e6]
        ev = _ev(spark, [(i, _at(i), 1, "t", v) for i, v in enumerate(vals)])
        out = mad_outliers(ev, k=3.0).collect()
        assert [r.value for r in out] == [1e6]
