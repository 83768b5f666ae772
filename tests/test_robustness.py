"""Robustness: rows-only queries must be deterministic run-to-run (the
driver hashes results; nondeterminism = flaky gate), and operators must
tolerate empty inputs (a filter matching nothing at some scale must not
crash the pipeline)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from proto_to_avro_ql_spark.entry_queries import ORACLES, QUERIES

ROWS_ONLY = sorted(set(QUERIES) - set(ORACLES))


class TestRowsOnlyDeterminism:
    def test_rows_only_class_stays_empty(self):
        """Round-8 ratchet: every registered entry is value-hash
        DuckDB-oracled (the r7 rows-only set was drained to zero —
        portable integer sketch kernels, integer-grid kmeans/IVF/PQ,
        byte-histogram features, sentinel-finalized append sink).
        Registering a new no-oracle entry must be a conscious
        decision: update this ratchet AND document the engine-specific
        surface that makes an oracle impossible."""
        assert ROWS_ONLY == [], ROWS_ONLY

    def test_same_result_twice(self, spark, sf_dir):
        # No-op while the rows-only class is empty (the gate hashes
        # every oracled entry run-to-run already); exercises any
        # future rows-only entry the ratchet above lets through.
        for name in ROWS_ONLY:
            a = QUERIES[name](spark, sf_dir)
            b = QUERIES[name](spark, sf_dir)
            ra = sorted(map(str, a.collect()))
            rb = sorted(map(str, b.collect()))
            assert ra == rb, f"{name} is nondeterministic"


class TestEmptyInputs:
    def test_dedup_on_empty(self, spark):
        from proto_to_avro_ql_spark.operators import dedup as DD

        empty = spark.createDataFrame([], "doc_id long, text string")
        assert DD.dedup_exact(empty).count() == 0
        assert DD.dedup_near_hash(empty).count() == 0
        assert DD.ngram_jaccard_pairs(empty, threshold=0.2).count() == 0
        assert DD.minhash_lsh_pairs(empty, threshold=0.2).count() == 0
        assert DD.simhash_pairs(empty).count() == 0

    def test_windows_on_empty(self, spark):
        from proto_to_avro_ql_spark.operators.windows import (
            latest_event_per_user,
            sessionize,
            tumbling_window_agg,
        )

        empty = spark.createDataFrame(
            [], "event_id long, ts timestamp_ntz, user_id long, event_type string, value double"
        )
        assert tumbling_window_agg(empty).count() == 0
        assert latest_event_per_user(empty).count() == 0
        assert sessionize(empty).count() == 0

    def test_corpus_pipeline_on_empty(self, spark):
        from proto_to_avro_ql_spark.operators.corpus import clean_corpus, corpus_stats

        empty = spark.createDataFrame([], "doc_id long, text string")
        clean = clean_corpus(empty)
        assert clean.count() == 0
        stats = corpus_stats(clean).first()
        assert stats.n_docs == 0 and stats.total_tokens is None

    def test_simsearch_on_empty(self, spark):
        from proto_to_avro_ql_spark.operators import simsearch as SS

        empty = spark.createDataFrame([], "vec_id long, embedding array<float>, label int")
        assert SS.brute_force_topk(empty, query_ids=[1], k=3).count() == 0
        assert SS.embedding_near_dup_pairs(empty, exact=True).count() == 0

    def test_compile_on_empty(self, spark):
        from proto_to_avro_ql_spark.plans.compile import compile_projection

        empty = spark.createDataFrame([], "a struct<x: long, y: string>, k long")
        out = compile_projection(empty, ["a.x", "k"])
        assert out.count() == 0
        assert [f.name for f in out.schema["a"].dataType.fields] == ["x"]


class TestSketchAccuracy:
    """Round 8: the sketch entries moved to the portable integer
    kernels (functions/portable.py) so DuckDB oracles them hash-exact;
    these tests keep pinning the orthogonal claim the oracle can't —
    that the estimates are close to the TRUTH, not merely
    cross-engine-identical."""

    def test_hll_within_tolerance(self, spark, sf_dir):
        from proto_to_avro_ql_spark.entry_queries import QUERIES

        r = QUERIES["ext_approx_distinct"](spark, sf_dir).first()
        # m=256 registers: theoretical stderr ~6.5%; observed ≤7.4%
        # across sf0.001..0.1 during round-8 tuning.
        assert abs(r.approx_parts - r.exact_parts) / r.exact_parts < 0.12

    def test_approx_quantile_bin_bound(self, spark, sf_dir):
        """The histogram estimate is the lower edge of the bin holding
        the target order statistic, so the exact value sits within one
        bin width above it — an ERROR BOUND, not a tolerance."""
        from proto_to_avro_ql_spark.entry_queries import QUERIES
        from proto_to_avro_ql_spark.entry_registry import _QUANT_BIN_CENTS

        rows = QUERIES["ext_approx_quantile"](spark, sf_dir).collect()
        assert len(rows) == 4
        for r in rows:
            assert 0 <= r.exact_cents - r.approx_cents < _QUANT_BIN_CENTS, r

    def test_cms_within_eps_bound(self, spark, sf_dir):
        """CMS never underestimates; overestimate is bounded by bucket
        collisions (d=4 rows × w=256 buckets)."""
        from proto_to_avro_ql_spark.entry_queries import QUERIES
        from proto_to_avro_ql_spark.functions.portable import CMS_W
        from proto_to_avro_ql_spark.sources.io import read_table

        ev = read_table(spark, sf_dir, "events")
        exact = dict(ev.groupBy("event_type").count().collect())
        total = sum(exact.values())
        for r in QUERIES["ext_approx_freq"](spark, sf_dir).collect():
            assert r.est_count >= exact[r.event_type]
            assert r.est_count - exact[r.event_type] <= 2 * total / CMS_W + 1


class TestUnicodeText:
    def test_text_ops_handle_unicode(self, spark):
        """CJK / emoji / combining marks must not break normalization,
        shingles, hashing, or sampling buckets."""
        from proto_to_avro_ql_spark.functions.text import (
            fingerprint,
            normalize_text,
            quality_score,
            token_count_ws,
        )
        from proto_to_avro_ql_spark.functions.text import shingles
        from proto_to_avro_ql_spark.operators.sampling import hash_bucket

        docs = spark.createDataFrame(
            [
                (1, "héllo wörld  naïve   café"),
                (2, "日本語 テスト 文書 です ね"),
                (3, "emoji 🚀 rocket 🌖 moon test"),
                (4, "á combining é marks ó here"),
            ],
            "doc_id long, text string",
        )
        out = docs.select(
            "doc_id",
            normalize_text(F.col("text")).alias("norm"),
            fingerprint(F.col("text")).alias("fp"),
            token_count_ws(F.col("text")).alias("ntok"),
            quality_score(F.col("text")).alias("q"),
            F.size(shingles(F.col("text"), 3)).alias("nsh"),
            hash_bucket(F.col("text")).alias("bucket"),
        ).collect()
        assert len(out) == 4
        for r in out:
            assert r.norm and r.fp and r.ntok > 0 and r.nsh > 0
            assert 0 <= r.bucket < 100

    def test_unicode_dedup_exact_groups_identical_texts(self, spark):
        from proto_to_avro_ql_spark.operators.dedup import dedup_exact

        docs = spark.createDataFrame(
            [(1, "日本語 テスト"), (2, "日本語 テスト"), (3, "🚀 🚀 🚀")],
            "doc_id long, text string",
        )
        out = {r.keep_id: r.n_dups for r in dedup_exact(docs).collect()}
        assert out == {1: 2, 3: 1}


class TestRound2EmptyInputs:
    def test_governance_on_empty(self, spark):
        from proto_to_avro_ql_spark.operators.governance import (
            domain_mix_weights,
            quality_funnel,
            repetition_signals,
            unigram_lm_score,
        )

        empty = spark.createDataFrame([], "doc_id long, text string, source string")
        assert repetition_signals(empty).count() == 0
        assert unigram_lm_score(empty).count() == 0
        assert domain_mix_weights(empty, {"src0": 1.0}).count() == 0
        funnel = {r.stage: r for r in quality_funnel(empty).collect()}
        assert len(funnel) == 3  # stages still reported, all zero
        assert all(r.docs_in == 0 and r.dropped == 0 for r in funnel.values())

    def test_upsert_on_empty_sides(self, spark):
        from proto_to_avro_ql_spark.operators.merge import upsert

        base = spark.createDataFrame([(1, "a")], "k long, v string")
        empty = spark.createDataFrame([], "k long, v string")
        assert {r.k for r in upsert(base, empty, ["k"]).collect()} == {1}
        assert {r.k for r in upsert(empty, base, ["k"]).collect()} == {1}
        assert upsert(empty, empty, ["k"]).count() == 0

    def test_decode_proto_on_empty(self, spark):
        from proto_to_avro_ql_spark.entry_registry import EVENT_SPEC
        from proto_to_avro_ql_spark.sources.protodec import decode_proto

        empty = spark.createDataFrame([], "row_id long, pb binary")
        assert decode_proto(empty, "pb", EVENT_SPEC, keep_cols=("row_id",)).count() == 0

    def test_salted_join_on_empty_fact(self, spark):
        from proto_to_avro_ql_spark.operators.skew import salted_join

        fact = spark.createDataFrame([], "k string, x long")
        dim = spark.createDataFrame([("a", 1)], "k string, w int")
        assert salted_join(fact, dim, "k").count() == 0


class TestEmptyInputsSession3:
    def test_segments_on_empty(self, spark):
        from proto_to_avro_ql_spark.operators.segments import (
            chunk_documents,
            reassemble_kept,
            segment_dedup_stats,
        )

        empty = spark.createDataFrame([], "doc_id long, text string")
        assert chunk_documents(empty).count() == 0
        assert segment_dedup_stats(empty).count() == 0
        assert reassemble_kept(empty).count() == 0

    def test_timeseries_on_empty(self, spark):
        from pyspark.sql import functions as F

        from proto_to_avro_ql_spark.operators.timeseries import (
            forward_fill,
            resample_daily,
        )

        empty = spark.createDataFrame(
            [], "event_id long, ts timestamp_ntz, user_id long, value double"
        )
        assert resample_daily(empty).count() == 0
        assert (
            empty.select(forward_fill(empty, F.col("value")).alias("f")).count() == 0
        )

    def test_fuzzy_and_analytics_on_empty(self, spark):
        from proto_to_avro_ql_spark.operators.analytics import (
            conversion_funnel,
            mad_outliers,
            retention_cohorts,
        )
        from proto_to_avro_ql_spark.operators.fuzzy import fuzzy_name_matches

        nodocs = spark.createDataFrame([], "p_name string")
        assert fuzzy_name_matches(nodocs, "p_name").count() == 0
        noev = spark.createDataFrame(
            [], "event_id long, ts timestamp_ntz, user_id long, event_type string, value double"
        )
        row = conversion_funnel(noev).first()
        assert (row.n_users, row.n_view, row.n_click, row.n_purchase) == (0, 0, 0, 0)
        assert retention_cohorts(noev).count() == 0
        assert mad_outliers(noev).count() == 0

    def test_lexical_session3_on_empty(self, spark):
        from proto_to_avro_ql_spark.operators.governance import bigram_lm_score
        from proto_to_avro_ql_spark.operators.lexical import tfidf_top_terms

        empty = spark.createDataFrame([], "doc_id long, text string")
        assert tfidf_top_terms(empty).count() == 0
        assert bigram_lm_score(empty).count() == 0


class TestRound3EmptyInputs:
    def test_banded_rank_on_empty(self, spark):
        from pyspark.sql import functions as F

        from proto_to_avro_ql_spark.operators.layout import banded_global_rank

        empty = spark.createDataFrame([], "k long, uid long")
        out = banded_global_rank(
            empty, F.col("k"), [F.col("k"), F.col("uid")], "r"
        )
        assert out.count() == 0
        assert "r" in out.columns

    def test_pivot_on_empty(self, spark):
        from pyspark.sql import functions as F

        from proto_to_avro_ql_spark.functions.stable import dec_sum

        empty = spark.createDataFrame([], "user_id long, event_type string, value double")
        out = empty.groupBy("user_id").agg(
            dec_sum(F.when(F.col("event_type") == "click", F.col("value")), 4).alias(
                "click_sum"
            )
        )
        assert out.count() == 0

    def test_avro_sink_empty_dataframe(self, spark):
        import os
        import tempfile

        from proto_to_avro_ql_spark.sources.avro_sink import (
            read_avro_file,
            write_avro_file,
        )

        empty = spark.createDataFrame([], "id long, name string")
        path = os.path.join(tempfile.mkdtemp(), "empty.avro")
        assert write_avro_file(empty, path) == 0
        with open(path, "rb") as f:
            assert f.read(4) == b"Obj\x01"  # valid container even when empty
        back = read_avro_file(spark, path, empty.schema)
        assert back.count() == 0


class TestRound3Session2Empty:
    def test_entropy_on_empty(self, spark):
        from proto_to_avro_ql_spark.operators.governance import token_entropy

        empty = spark.createDataFrame([], "doc_id long, text string")
        assert token_entropy(empty).count() == 0

    def test_variant_on_corrupt_json(self, spark):
        """try_parse-style tolerance: a corrupt props row must not fail
        the typed extraction path (variant_get of a NULL variant is
        NULL, matching PERMISSIVE-mode semantics)."""
        from pyspark.sql import functions as F

        df = spark.createDataFrame(
            [(1, '{"k": 5}'), (2, "not json"), (3, None)],
            "event_id long, props string",
        )
        out = df.select(
            "event_id",
            F.variant_get(F.try_parse_json("props"), "$.k", "bigint").alias("k"),
        ).collect()
        got = {r.event_id: r.k for r in out}
        assert got == {1: 5, 2: None, 3: None}

    def test_pmi_below_support_is_empty(self, spark):
        """min-support 5 on a tiny corpus: no pair reaches support, the
        operator yields an empty frame (not an error)."""
        import os, tempfile

        from proto_to_avro_ql_spark.entry_queries import QUERIES

        d = tempfile.mkdtemp(prefix="pmi_empty_")
        spark.createDataFrame(
            [(1, "a b", "en", "s", 3)],
            "doc_id long, text string, lang string, source string, n_chars long",
        ).write.parquet(os.path.join(d, "documents.parquet"))
        assert QUERIES["ext_pmi_bigrams"](spark, d).count() == 0

    def test_quantize_on_empty(self, spark):
        import os, tempfile

        from proto_to_avro_ql_spark.entry_queries import QUERIES

        d = tempfile.mkdtemp(prefix="quant_empty_")
        spark.createDataFrame(
            [], "vec_id long, embedding array<float>, label int"
        ).write.parquet(os.path.join(d, "embeddings.parquet"))
        assert QUERIES["ext_embed_quantize"](spark, d).count() == 0

    def test_resize_rejects_malformed_payload(self, spark):
        """A short payload must fail loudly inside the batch (codec
        semantics), not silently emit garbage."""
        import pytest as _pytest

        from proto_to_avro_ql_spark.operators.multimodal import resize_nn

        df = spark.createDataFrame(
            [(1, b"\x01\x02\x03")], "event_id long, blob binary"
        )
        with _pytest.raises(Exception, match="expected 16"):
            resize_nn(df, 4, 4, 2, 2).collect()

    def test_resize_identity_and_corner_sampling(self, spark):
        from proto_to_avro_ql_spark.operators.multimodal import resize_nn

        blob = bytes(range(16))  # 4x4 row-major: byte value == flat index
        df = spark.createDataFrame([(1, blob)], "event_id long, blob binary")
        same = resize_nn(df, 4, 4, 4, 4).collect()[0]
        assert same.resized == blob  # identity at equal size
        down = resize_nn(df, 4, 4, 2, 2).collect()[0]
        assert list(down.resized) == [0, 2, 8, 10]  # NN grid rows/cols {0,2}


class TestDbscanGridGuards:
    """Round-7 verdict #2: the dense-cell collect in ext_dbscan_grid is
    grid-area-bounded by DESIGN; these tests pin that the bound and the
    key-packing coordinate range are ENFORCED (loud ValueError), not
    just documented — a planted wide-range embedding must not reach the
    driver-side collect with colliding keys or an unbounded row set."""

    def _write_embeddings(self, spark, rows, prefix):
        import os, tempfile

        d = tempfile.mkdtemp(prefix=prefix)
        spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        ).write.parquet(os.path.join(d, "embeddings.parquet"))
        return d

    def test_out_of_range_coords_raise(self, spark):
        """cy = floor(1e5*10) is far outside [-100, 899]: the
        (cx+100)*1000+(cy+100) packing would silently collide across
        cx values, so the guard must raise before collecting."""
        import pytest as _pytest

        from proto_to_avro_ql_spark.entry_queries import QUERIES

        # 5 points in one far-out cell so it is dense (minPts = 5).
        rows = [(i, [100000.0, 100000.0], 0) for i in range(5)]
        d = self._write_embeddings(spark, rows, "dbscan_range_")
        with _pytest.raises(ValueError, match="silently collide"):
            QUERIES["ext_dbscan_grid"](spark, d).collect()

    def test_packing_collision_pair_is_rejected(self, spark):
        """Adversarial planted COLLISION: cells (cx=0, cy=1000) and
        (cx=1, cy=0) both pack to key 101100 — without the range guard
        they would merge into one 'cluster'. The guard must refuse."""
        import pytest as _pytest

        from proto_to_avro_ql_spark.entry_queries import QUERIES

        rows = [(i, [0.05, 100.05], 0) for i in range(5)] + [
            (10 + i, [0.15, 0.05], 0) for i in range(5)
        ]
        d = self._write_embeddings(spark, rows, "dbscan_collide_")
        with _pytest.raises(ValueError, match="silently collide"):
            QUERIES["ext_dbscan_grid"](spark, d).collect()

    def test_in_range_small_fixture_still_works(self, spark):
        """Sanity: the guard must not reject the designed regime —
        two separated dense cells inside the packing range cluster
        independently; sparse points report as noise (-1)."""
        from proto_to_avro_ql_spark.entry_queries import QUERIES

        rows = (
            [(i, [0.05, 0.05], 0) for i in range(5)]       # dense cell A
            + [(10 + i, [5.05, 5.05], 0) for i in range(5)]  # dense cell B
            + [(100, [9.05, 9.05], 0)]                        # noise
        )
        d = self._write_embeddings(spark, rows, "dbscan_ok_")
        out = {
            r["cluster_id"]: (r["n_cells"], r["n_points"])
            for r in QUERIES["ext_dbscan_grid"](spark, d).collect()
        }
        assert out[-1] == (1, 1)  # the noise point, its own sparse cell
        clusters = {k: v for k, v in out.items() if k != -1}
        assert sorted(clusters.values()) == [(1, 5), (1, 5)]

    def test_empty_embeddings_do_not_trip_guard(self, spark):
        from proto_to_avro_ql_spark.entry_queries import QUERIES

        d = self._write_embeddings(spark, [], "dbscan_empty_")
        assert QUERIES["ext_dbscan_grid"](spark, d).count() == 0
