"""Round-3 session-3 surfaces: grouped-agg pandas UDF, cogrouped
applyInPandas, mapInArrow, EWMA, fixed-iteration PageRank, CSV source.

Each has a DuckDB oracle in the registry; these tests pin semantics the
hash alone doesn't show (full-outer cogroup coverage, multibyte Arrow
lengths, EWMA hand-computed values, PageRank structure) plus the house
empty-input contracts.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from proto_to_avro_ql_spark.entry_queries import QUERIES


class TestGroupedAggUdf:
    def test_matches_native_max_min(self, spark, sf_dir):
        out = QUERIES["udf_grouped_agg_pandas"](spark, sf_dir)
        from proto_to_avro_ql_spark.sources.io import read_table

        native = (
            read_table(spark, sf_dir, "events")
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n"),
                (F.max("value") - F.min("value")).alias("value_range"),
            )
        )
        assert sorted(map(tuple, out.collect())) == sorted(
            map(tuple, native.collect())
        )


class TestCogroup:
    def test_one_sided_keys_emit_zero(self, spark, sf_dir):
        rows = {r.k: (r.n_events, r.n_orders) for r in
                QUERIES["udf_cogrouped_pandas"](spark, sf_dir).collect()}
        # orders custkeys range far beyond the events user-id range, so
        # full-outer cogroup semantics must surface order-only keys
        # with n_events == 0 (and their order count intact).
        only_orders = [k for k, (ne, no) in rows.items() if ne == 0]
        assert only_orders and all(rows[k][1] > 0 for k in only_orders)
        both = [k for k, (ne, no) in rows.items() if ne > 0 and no > 0]
        assert both  # overlapping keys carry counts from BOTH relations


class TestMapInArrow:
    def test_multibyte_counts(self, spark):
        from proto_to_avro_ql_spark.entry_registry import q_ext_map_in_arrow

        df = spark.createDataFrame(
            [(1, "abc"), (2, "héllo"), (3, "")], "doc_id long, text string"
        )
        fn = df.select("doc_id", "text").mapInArrow  # surface exists
        # drive through the registered shape instead: swap the table read
        out = {
            r.doc_id: (r.n_chars, r.n_bytes)
            for r in df.mapInArrow(
                _arrow_lengths, schema="doc_id long, n_chars long, n_bytes long"
            ).collect()
        }
        assert out[1] == (3, 3)
        assert out[2] == (5, 6)  # é is 2 bytes in UTF-8
        assert out[3] == (0, 0)


def _arrow_lengths(batches):
    import pyarrow as pa
    import pyarrow.compute as pc

    for b in batches:
        text = b.column(b.schema.get_field_index("text"))
        yield pa.RecordBatch.from_arrays(
            [
                b.column(b.schema.get_field_index("doc_id")),
                pc.cast(pc.utf8_length(text), pa.int64()),
                pc.cast(pc.binary_length(text), pa.int64()),
            ],
            names=["doc_id", "n_chars", "n_bytes"],
        )


class TestEwma:
    def test_hand_computed(self, spark, tmp_path):
        # user 1: values 1.0 then 3.0 → ewma2 = 3.0 + 0.5*1.0 = 3.5
        ev = spark.createDataFrame(
            [
                (1, "2024-01-01 00:00:00", 1, "view", 1.0, None),
                (2, "2024-01-01 00:01:00", 1, "view", 3.0, None),
            ],
            "event_id long, ts string, user_id long, event_type string,"
            " value double, props string",
        ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
        path = str(tmp_path / "events.parquet")
        ev.coalesce(1).write.parquet(path)
        out = {r.event_id: r.ewma for r in
               QUERIES["ext_ewma"](spark, str(tmp_path)).collect()}
        assert out[1] == 1.0
        assert out[2] == 3.5

    def test_empty(self, spark, tmp_path):
        spark.createDataFrame(
            [],
            "event_id long, ts timestamp_ntz, user_id long, event_type string,"
            " value double, props string",
        ).write.parquet(str(tmp_path / "events.parquet"))
        assert QUERIES["ext_ewma"](spark, str(tmp_path)).count() == 0


class TestPageRank:
    def test_structure(self, spark, sf_dir):
        ranks = {r.node: r["rank"] for r in
                 QUERIES["ext_pagerank"](spark, sf_dir).collect()}
        assert len(ranks) > 0
        # every rank ≥ the damping floor; sources with no inbound sit AT it
        assert all(v >= 0.15 for v in ranks.values())
        assert min(ranks.values()) == 0.15
        # suppliers (inbound-heavy in this bipartite-ish graph) rise above 0.15
        assert max(ranks.values()) > 0.5

    def test_partition_invariant(self, spark, sf_dir):
        a = sorted(map(tuple, QUERIES["ext_pagerank"](spark, sf_dir).collect()))
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        try:
            spark.conf.set("spark.sql.shuffle.partitions", "7")
            b = sorted(map(tuple, QUERIES["ext_pagerank"](spark, sf_dir).collect()))
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
        assert a == b  # decimal contribution sums ⇒ order-independent


class TestContainment:
    def test_embedded_short_doc_caught(self, spark, tmp_path):
        from proto_to_avro_ql_spark.operators import dedup as DD

        long_text = " ".join(f"w{i}" for i in range(40))
        short_text = " ".join(f"w{i}" for i in range(10, 20))  # embedded slice
        docs = spark.createDataFrame(
            [(1, long_text), (2, short_text), (3, "totally different words here")],
            "doc_id long, text string",
        )
        cont = {(r.id_a, r.id_b): r.containment
                for r in DD.containment_pairs(docs, threshold=0.8).collect()}
        assert cont.get((1, 2)) == 1.0  # short ⊂ long → full containment
        # Jaccard misses the same pair at any useful threshold
        jac = {(r.id_a, r.id_b): r.jaccard
               for r in DD.ngram_jaccard_pairs(docs, threshold=0.5).collect()}
        assert (1, 2) not in jac

    def test_empty(self, spark):
        from proto_to_avro_ql_spark.operators import dedup as DD

        empty = spark.createDataFrame([], "doc_id long, text string")
        assert DD.containment_pairs(empty).count() == 0


class TestNullSafeJoin:
    def test_null_keys_match(self, spark, sf_dir):
        rows = {r.k: (r.n_events, r.n_orders)
                for r in QUERIES["join_null_safe"](spark, sf_dir).collect()}
        assert None in rows  # the NULLIF'd key-0 groups matched each other
        ne, no = rows[None]
        assert ne > 0 and no > 0


class TestLateralTopk:
    def test_per_group_limit_and_order(self, spark, sf_dir):
        import collections

        out = QUERIES["ext_lateral_topk"](spark, sf_dir).collect()
        per_cust = collections.defaultdict(list)
        for r in out:
            per_cust[r.c_custkey].append(r.o_totalprice)
        assert all(len(v) <= 2 for v in per_cust.values())
        assert any(len(v) == 2 for v in per_cust.values())


class TestWinsorize:
    def test_bounds_respected(self, spark, sf_dir):
        from proto_to_avro_ql_spark.sources.io import read_table

        out = QUERIES["ext_winsorize"](spark, sf_dir)
        ev = read_table(spark, sf_dir, "events")
        per_type = (
            out.groupBy("event_type")
            .agg(F.min("clipped").alias("lo"), F.max("clipped").alias("hi"))
            .collect()
        )
        raw = {
            r.event_type: (r.lo, r.hi)
            for r in ev.groupBy("event_type")
            .agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
            .collect()
        }
        for r in per_type:  # clipping can only narrow the range
            assert r.lo >= raw[r.event_type][0]
            assert r.hi <= raw[r.event_type][1]


class TestMarkovTransitions:
    def test_rows_are_distributions(self, spark, sf_dir):
        import collections

        out = QUERIES["ext_markov_transitions"](spark, sf_dir).collect()
        per_cur = collections.defaultdict(float)
        for r in out:
            assert 0.0 < r.p <= 1.0
            per_cur[r.cur] += r.p
        for cur, total in per_cur.items():
            assert abs(total - 1.0) < 1e-9, (cur, total)


class TestPeriodOverPeriod:
    def test_first_day_growth_null(self, spark, sf_dir):
        out = QUERIES["ext_period_over_period"](spark, sf_dir).collect()
        first_day = {}
        for r in out:
            if r.event_type not in first_day or r.day < first_day[r.event_type]:
                first_day[r.event_type] = r.day
        for r in out:
            if r.day == first_day[r.event_type]:
                assert r.growth is None
            assert r.revenue is not None


class TestListagg:
    def test_within_group_order(self, spark, sf_dir):
        out = {r.region: r.nations for r in
               QUERIES["ext_listagg"](spark, sf_dir).collect()}
        for nations in out.values():
            parts = nations.split(",")
            assert parts == sorted(parts)
            assert len(parts) >= 1


class TestBpeTokens:
    def test_contractions_and_punct_split(self, spark):
        from proto_to_avro_ql_spark.functions.text import token_count_bpe

        df = spark.createDataFrame(
            [
                (1, "don't stop"),        # don + 't + stop
                (2, "hello, world!"),     # hello + , + world + !
                (3, "abc123"),            # abc + 123 split at the digit run
                (4, ""),
            ],
            "doc_id long, text string",
        )
        out = {r.doc_id: r.n for r in
               df.select("doc_id", token_count_bpe(F.col("text")).alias("n")).collect()}
        assert out[1] == 3
        assert out[2] == 4
        assert out[3] == 2
        assert out[4] == 0


class TestUrlNormalize:
    def test_canonical_forms(self, spark, sf_dir):
        out = {r.doc_id: r.canonical_url for r in
               QUERIES["ext_url_normalize"](spark, sf_dir).collect()}
        for doc_id, url in out.items():
            assert url.startswith("https://")     # scheme folded
            assert "www." not in url              # www stripped
            assert "utm_" not in url              # tracking params dropped
            assert "#" not in url                 # fragment dropped
        # param order normalized: ?a=1&b=2 regardless of synthesized order
        reordered = [u for u in out.values() if u.endswith("?a=1&b=2")]
        assert len(reordered) > 0
        # doc_id%4 in {0,1,2} all canonicalize to the same query string
        assert not any("b=2&a=1" in u for u in out.values())


class TestScd2Join:
    def test_each_fact_matches_exactly_one_version(self, spark, sf_dir):
        from proto_to_avro_ql_spark.sources.io import read_table

        out = QUERIES["ext_scd2_join"](spark, sf_dir)
        n_orders = read_table(spark, sf_dir, "orders").count()
        assert out.count() == n_orders  # intervals partition the timeline
        for r in out.collect():
            base = int(r.priority[0])
            if r.order_day >= "1998-01-01":
                assert r.weight == base * 10
            else:
                assert r.weight == base

    def test_plan_is_broadcast_equi_join(self, spark, sf_dir):
        plan = (
            QUERIES["ext_scd2_join"](spark, sf_dir)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastHashJoin" in plan, plan
        assert "NestedLoop" not in plan and "CartesianProduct" not in plan, plan


class TestRowHash:
    def test_hash_distinguishes_and_is_stable(self, spark, sf_dir):
        a = {r.o_orderkey: r.row_hash
             for r in QUERIES["fn_row_hash"](spark, sf_dir).collect()}
        b = {r.o_orderkey: r.row_hash
             for r in QUERIES["fn_row_hash"](spark, sf_dir).collect()}
        assert a == b
        assert len(set(a.values())) == len(a)  # orderkey in the tuple ⇒ unique


class TestFeatureHash:
    def test_buckets_bounded_and_counts_conserve(self, spark, sf_dir):
        from proto_to_avro_ql_spark.functions.text import token_count_ws
        from proto_to_avro_ql_spark.sources.io import read_table

        out = QUERIES["ext_feature_hash"](spark, sf_dir)
        rows = out.collect()
        assert all(0 <= r.bucket < 64 for r in rows)
        total_hashed = sum(r.n for r in rows)
        docs = read_table(spark, sf_dir, "documents")
        total_tokens = (
            docs.select(F.sum(token_count_ws(F.col("text"))).alias("s"))
            .first().s
        )
        assert total_hashed == total_tokens  # every token lands somewhere


class TestTargetEncode:
    def test_leave_one_out(self, spark, sf_dir):
        from proto_to_avro_ql_spark.sources.io import read_table

        out = QUERIES["ext_target_encode"](spark, sf_dir)
        ev = read_table(spark, sf_dir, "events").select(
            "event_id", "event_type", (F.col("user_id") % 2).alias("label")
        )
        joined = out.join(ev, ["event_id", "event_type"]).collect()
        import collections

        sums = collections.Counter()
        ns = collections.Counter()
        for r in joined:
            sums[r.event_type] += r.label
            ns[r.event_type] += 1
        for r in joined[:200]:
            expect = (sums[r.event_type] - r.label) / (ns[r.event_type] - 1)
            assert abs(r.te - expect) < 1e-12


class TestEmbedDrift:
    def test_dims_complete_and_drift_nonneg(self, spark, sf_dir):
        rows = QUERIES["ext_embed_drift"](spark, sf_dir).collect()
        dims = sorted(r.dim for r in rows)
        assert dims == list(range(len(dims)))  # every dimension covered
        for r in rows:
            assert r.drift >= 0
            assert abs(r.drift - abs(r.mean_a - r.mean_b)) < 1e-15


class TestClassMetrics:
    def test_against_direct_computation(self, spark, sf_dir):
        from proto_to_avro_ql_spark.sources.io import read_table

        r = QUERIES["ext_class_metrics"](spark, sf_dir).first()
        rows = (
            read_table(spark, sf_dir, "events")
            .where(F.col("value").isNotNull())
            .select((F.col("value") > 50).alias("pred"),
                    (F.col("user_id") % 2 == 1).alias("label"))
            .collect()
        )
        tp = sum(1 for x in rows if x.pred and x.label)
        fp = sum(1 for x in rows if x.pred and not x.label)
        fn = sum(1 for x in rows if not x.pred and x.label)
        tn = sum(1 for x in rows if not x.pred and not x.label)
        assert (r.tp, r.fp, r.fn, r.tn) == (tp, fp, fn, tn)
        assert r.precision_ == tp / (tp + fp)
        assert r.f1 == 2 * tp / (2 * tp + fp + fn)


class TestAuc:
    def test_matches_brute_force_pairs(self, spark, sf_dir):
        from proto_to_avro_ql_spark.sources.io import read_table

        r = QUERIES["ext_auc"](spark, sf_dir).first()
        rows = (
            read_table(spark, sf_dir, "events")
            .where(F.col("value").isNotNull())
            .select(F.col("value").alias("s"), (F.col("user_id") % 2).alias("y"))
            .collect()
        )
        pos = [x.s for x in rows if x.y == 1]
        neg = [x.s for x in rows if x.y == 0]
        num2 = sum(
            2 if p > q else (1 if p == q else 0) for p in pos for q in neg
        )
        assert r.n_pos == len(pos) and r.n_neg == len(neg)
        assert r.auc == num2 / (2 * len(pos) * len(neg))

    def test_perfect_separation_is_one(self, spark, tmp_path):
        # positives all score above negatives → AUC exactly 1.0
        rows = [(i, "2024-01-01 00:00:00", 2 * i + 1, "view",
                 100.0 + i, None) for i in range(10)]
        rows += [(100 + i, "2024-01-01 00:00:00", 2 * i, "view",
                  float(i), None) for i in range(10)]
        df = spark.createDataFrame(
            rows,
            "event_id long, ts string, user_id long, event_type string,"
            " value double, props string",
        ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
        df.coalesce(1).write.parquet(str(tmp_path / "events.parquet"))
        r = QUERIES["ext_auc"](spark, str(tmp_path)).first()
        assert r.auc == 1.0


class TestNdcg:
    def test_matches_reference_formula(self, spark, sf_dir):
        import math

        from proto_to_avro_ql_spark.operators.simsearch import brute_force_topk
        from proto_to_avro_ql_spark.sources.io import read_table

        emb = read_table(spark, sf_dir, "embeddings")
        labels = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}
        topk = brute_force_topk(emb, query_ids=[0, 1, 2], k=10).collect()
        out = {r.query_id: (r.n_rel, r.ndcg)
               for r in QUERIES["ext_ndcg"](spark, sf_dir).collect()}
        import collections

        per_q = collections.defaultdict(list)
        for r in sorted(topk, key=lambda r: (r.query_id, r.rank)):
            per_q[r.query_id].append(labels[r.neighbor_id] == labels[r.query_id])
        for qid, rels in per_q.items():
            dcg = sum(1 / math.log2(i + 2) for i, rel in enumerate(rels) if rel)
            n_rel = sum(rels)
            idcg = sum(1 / math.log2(i + 2) for i in range(n_rel))
            assert out[qid][0] == n_rel
            if n_rel:
                # 9-decimal literal weights vs full-precision math.log2
                assert abs(out[qid][1] - dcg / idcg) < 1e-7
            assert 0.0 <= out[qid][1] <= 1.0


class TestSessionEmptyInputs:
    """House contract: operators must tolerate empty inputs (a filter
    matching nothing at some scale must not crash the pipeline)."""

    def _empty_events(self, spark, tmp_path):
        spark.createDataFrame(
            [],
            "event_id long, ts timestamp_ntz, user_id long, event_type string,"
            " value double, props string",
        ).write.parquet(str(tmp_path / "events.parquet"))
        return str(tmp_path)

    def test_event_operators_on_empty(self, spark, tmp_path):
        d = self._empty_events(spark, tmp_path)
        assert QUERIES["ext_markov_transitions"](spark, d).count() == 0
        assert QUERIES["ext_winsorize"](spark, d).count() == 0
        assert QUERIES["ext_overlap_join"](spark, d).count() == 0
        assert QUERIES["ext_period_over_period"](spark, d).count() == 0
        # single-row reports survive with NULL metrics instead of erroring
        r = QUERIES["ext_auc"](spark, d).first()
        assert r.auc is None
        m = QUERIES["ext_class_metrics"](spark, d).first()
        assert m.tp is None and m.f1 is None

    def test_doc_operators_on_empty(self, spark, tmp_path):
        spark.createDataFrame(
            [], "doc_id long, text string, lang string, source string,"
            " n_chars long"
        ).write.parquet(str(tmp_path / "documents.parquet"))
        d = str(tmp_path)
        assert QUERIES["ext_feature_hash"](spark, d).count() == 0
        assert QUERIES["ext_url_normalize"](spark, d).count() == 0
        assert QUERIES["ext_token_bpe"](spark, d).count() == 0


class TestCsvScan:
    def test_nulls_survive(self, spark, tmp_path):
        ev = spark.createDataFrame(
            [
                (1, "2024-01-01 00:00:00", 1, None, None, None),
                (2, "2024-01-01 00:01:00", 1, "view", 2.5, None),
            ],
            "event_id long, ts string, user_id long, event_type string,"
            " value double, props string",
        ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
        ev.coalesce(1).write.parquet(str(tmp_path / "events.parquet"))
        out = {r.event_id: (r.event_type, r.value) for r in
               QUERIES["src_csv_scan"](spark, str(tmp_path)).collect()}
        assert out[1] == (None, None)
        assert out[2] == ("view", 2.5)
