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


class TestProductQuantization:
    def test_pq_adc_beats_random_and_tracks_brute_force(self, spark, sf_dir):
        """PQ ADC top-5 must (a) return exactly k rows per query,
        (b) recall >= 0.2 of the exact top-5 (random baseline ~0.01),
        and (c) keep >= 0.7 of brute force's mean exact cosine — the
        compression-quality contract on this weakly-clustered
        synthetic corpus (brute-force mean top-5 cosine is only ~0.32,
        PQ's hardest regime)."""
        import pyspark.sql.functions as F

        from proto_to_avro_ql_spark.operators.simsearch import (
            brute_force_topk,
            cosine,
            pq_adc_topk,
        )
        from proto_to_avro_ql_spark.sources.io import read_table

        emb = read_table(spark, sf_dir, "embeddings").cache()
        qids = [3, 17, 41, 77, 101, 150, 200, 260, 333, 444]
        pq = pq_adc_topk(emb, qids, k=5, m=16, k_codes=32, iters=2).collect()
        assert len(pq) == 5 * len(qids)
        bf = brute_force_topk(emb, qids, k=5).collect()
        b = {(r["query_id"], r["neighbor_id"]) for r in bf}
        p = {(r["query_id"], r["neighbor_id"]) for r in pq}
        assert len(b & p) / len(b) >= 0.2, (len(b & p), len(b))

        def mean_cos(pairs):
            e1 = emb.select(F.col("vec_id").alias("q"), F.col("embedding").alias("a"))
            e2 = emb.select(F.col("vec_id").alias("n"), F.col("embedding").alias("c"))
            pdf = spark.createDataFrame(sorted(pairs), "q long, n long")
            return (
                pdf.join(e1, "q")
                .join(e2, "n")
                .agg(F.avg(cosine(F.col("a"), F.col("c"))))
                .first()[0]
            )

        assert mean_cos(p) / mean_cos(b) >= 0.7

    def test_pq_encode_shape(self, spark, sf_dir):
        """Every vector gets exactly m codes in [0, k)."""
        import pyspark.sql.functions as F

        from proto_to_avro_ql_spark.operators.simsearch import (
            pq_codebooks,
            pq_encode,
        )
        from proto_to_avro_ql_spark.sources.io import read_table

        emb = read_table(spark, sf_dir, "embeddings")
        books = pq_codebooks(emb, m=4, k=8, iters=1)
        codes = pq_encode(emb, books, m=4)
        assert codes.count() == emb.count()
        bad = codes.where(
            (F.size("codes") != 4)
            | F.exists("codes", lambda c: (c < 0) | (c >= 8))
        ).count()
        assert bad == 0
