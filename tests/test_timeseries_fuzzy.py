from __future__ import annotations

import datetime as dt
import math

from pyspark.sql import functions as F

from proto_to_avro_ql_spark.operators.fuzzy import fuzzy_name_matches
from proto_to_avro_ql_spark.operators.timeseries import forward_fill, resample_daily


def _events(spark, rows):
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, value double"
    )


class TestForwardFill:
    def test_fills_gaps_and_keeps_leading_null(self, spark):
        t = dt.datetime(2024, 1, 1)
        s = dt.timedelta(seconds=1)
        ev = _events(
            spark,
            [
                (1, t, 7, None),        # leading null stays null
                (2, t + s, 7, 5.0),
                (3, t + 2 * s, 7, None),  # ← takes 5.0
                (4, t + 3 * s, 7, 9.0),
                (5, t + 4 * s, 7, None),  # ← takes 9.0
                (6, t, 8, 1.0),           # other user unaffected
            ],
        )
        out = {
            r.event_id: r.f
            for r in ev.select(
                "event_id", forward_fill(ev, F.col("value")).alias("f")
            ).collect()
        }
        assert out == {1: None, 2: 5.0, 3: 5.0, 4: 9.0, 5: 9.0, 6: 1.0}

    def test_tie_broken_by_event_id(self, spark):
        t = dt.datetime(2024, 1, 1)
        ev = _events(spark, [(1, t, 7, 3.0), (2, t, 7, None)])
        out = {
            r.event_id: r.f
            for r in ev.select(
                "event_id", forward_fill(ev, F.col("value")).alias("f")
            ).collect()
        }
        assert out[2] == 3.0  # same ts: event 1 orders first


class TestResampleDaily:
    def test_gap_days_report_zero(self, spark):
        d1 = dt.datetime(2024, 1, 1, 10)
        d3 = dt.datetime(2024, 1, 3, 12)
        ev = _events(spark, [(1, d1, 7, 2.0), (2, d3, 7, 4.0)])
        out = {(r.user_id, r.day): (r.n_events, r.sum_value) for r in resample_daily(ev).collect()}
        assert out == {
            (7, "2024-01-01"): (1, 2.0),
            (7, "2024-01-02"): (0, None),
            (7, "2024-01-03"): (1, 4.0),
        }

    def test_single_day_entity_has_one_row(self, spark):
        ev = _events(spark, [(1, dt.datetime(2024, 2, 1), 9, 1.5)])
        assert resample_daily(ev).count() == 1


class TestFuzzyNameMatches:
    def test_blocked_matches_within_distance(self, spark):
        df = spark.createDataFrame(
            [("hot rod",), ("hot bolt",), ("hot rod",), ("cold rod",), ("zzz q",)],
            "p_name string",
        )
        out = fuzzy_name_matches(df, "p_name", 1, 3).collect()
        assert len(out) == 1  # cold rod is in another block; zzz q matches nothing
        m = out[0]
        assert (m.name_a, m.name_b, m.dist) == ("hot bolt", "hot rod", 3)
        assert m.n_pairs == 2  # 'hot rod' occurs twice

    def test_identical_names_excluded(self, spark):
        df = spark.createDataFrame([("hot rod",), ("hot rod",)], "p_name string")
        assert fuzzy_name_matches(df, "p_name", 1, 3).count() == 0

    def test_length_prefilter_does_not_drop_valid_pairs(self, spark):
        # |len diff| == max_dist must still be allowed (bound is >=, not >)
        df = spark.createDataFrame([("ab x",), ("ab xyyy",)], "p_name string")
        out = fuzzy_name_matches(df, "p_name", 1, 3).collect()
        assert len(out) == 1 and out[0].dist == 3


class TestTfidf:
    def test_rare_term_outranks_common(self, spark):
        from proto_to_avro_ql_spark.operators.lexical import tfidf_top_terms

        docs = spark.createDataFrame(
            [
                (1, "common common rare"),
                (2, "common filler words"),
                (3, "common other things"),
            ],
            "doc_id long, text string",
        )
        by_doc1 = {
            r.term: r
            for r in tfidf_top_terms(docs, top_k=10).where("doc_id = 1").collect()
        }
        # n_docs=3: idf(rare)=ln(4/2)+1, idf(common)=ln(4/4)+1=1
        assert by_doc1["rare"].df == 1 and by_doc1["common"].df == 3
        assert by_doc1["rare"].score == round(math.log(2) + 1, 6)  # tf=1
        assert by_doc1["common"].score == 2.0  # tf=2, idf=1
        # per-token, the rare term is weighted higher than the common one
        assert by_doc1["rare"].score > by_doc1["common"].score / 2

    def test_rank_deterministic_on_ties(self, spark):
        from proto_to_avro_ql_spark.operators.lexical import tfidf_top_terms

        docs = spark.createDataFrame([(1, "bb aa")], "doc_id long, text string")
        out = tfidf_top_terms(docs, top_k=2).orderBy("rank").collect()
        # identical scores: tie broken by term ascending
        assert [r.term for r in out] == ["aa", "bb"]
