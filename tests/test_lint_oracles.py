"""The oracle-exactness invariants as an executable gate.

The rules that fixed the r01/r02 driver failures lived only in prose
(ROADMAP.md "Standing invariants"); tools/lint_oracles.py automates the
regex-able subset. This test (a) keeps the whole corpus clean — all 254
oracles plus the package source — and (b) proves the lint actually
fires by planting one violation per rule.
"""

from __future__ import annotations

from tools.lint_oracles import (
    find_conf_writes,
    find_fragment_copies,
    find_stream_runs,
    find_violations,
    lint_all,
)


class TestCorpusClean:
    def test_every_oracle_and_source_file_clean(self):
        bad = lint_all()
        assert bad == {}, bad


class TestPlantedViolationsFire:
    def test_r1_round_of_float_sum(self):
        # the literal r01 failure shape: float-accumulated sum, rounded
        hits = find_violations(
            "SELECT event_type, ROUND(SUM(value), 4) AS s"
            " FROM events GROUP BY 1"
        )
        assert any(h.startswith("R1") for h in hits), hits

    def test_r1_bare_float_sum(self):
        hits = find_violations("SELECT SUM(l_extendedprice) FROM lineitem")
        assert any(h.startswith("R1") for h in hits), hits

    def test_r1_explicit_double_cast(self):
        hits = find_violations("SELECT AVG(CAST(n_chars AS DOUBLE)) FROM d")
        assert any(h.startswith("R1") for h in hits), hits

    def test_r2_scaled_decimal_product(self):
        hits = find_violations(
            "SELECT CAST(a AS DECIMAL(38,6)) * CAST(b AS DECIMAL(38,6)) FROM t"
        )
        assert any(h.startswith("R2") for h in hits), hits

    def test_r4_computed_to_scaled_decimal(self):
        hits = find_violations(
            "SELECT CAST(x / y AS DECIMAL(38,6)) FROM t"
        )
        assert any(h.startswith("R4") for h in hits), hits


class TestFragmentCopiesFire:
    """R6: hand-written copies of the shared text fragments outside
    functions/text.py and functions/portable.py."""

    def test_spark_tokenizer_copy(self):
        hits = find_fragment_copies(
            'toks = F.split(TX.normalize_text(F.col("text")), " ")\n'
        )
        assert any("tokenizer" in h for h in hits), hits

    def test_sql_tokenizer_copy(self):
        hits = find_fragment_copies(
            "SQL = r\"\"\"SELECT string_split(trim(regexp_replace("
            "lower(text), '\\s+', ' ', 'g')), ' ') FROM documents\"\"\"\n"
        )
        assert any("tokenizer" in h for h in hits), hits

    def test_pair_copies(self):
        spark = (
            'p = F.expr("zip_with(slice(a, 1, size(a) - 1),'
            ' slice(a, 2, size(a) - 1), (x, y) -> concat(x, y))")\n'
        )
        sql = 'q = "SELECT unnest(a[1:len(a)-1]) AS v FROM t"\n'
        for src in (spark, sql):
            hits = find_fragment_copies(src)
            assert any("adjacent pairs" in h for h in hits), hits

    def test_eval_split_copy(self):
        hits = find_fragment_copies(
            'e = f"CASE WHEN ({mix}) % 5 = 0 THEN 1 ELSE 0 END"\n'
        )
        assert any("eval split" in h for h in hits), hits

    def test_renderer_calls_and_prose_clean(self):
        assert not find_fragment_copies(
            '"""Docstring: F.split(normalize_text(c), " ") per doc."""\n'
            "# comment: zip_with(slice(a, 1, n - 1), ...)\n"
            'toks = TX.nonempty_tokens(F.col("text"))\n'
            "sql = f\"SELECT {TX.adjacent_pairs_sql('a')} FROM t"
            " WHERE {PK.eval_split_duckdb_sql('doc_id')}\"\n"
            'u = F.when(F.col("doc_id") % 5 == 0, "#frag")\n'
        )


class TestRelationCopiesFire:
    """R6 over the relation fragments: daily cents, the co-purchase
    self-join, the label-propagation vote, the held-out bigram
    aggregate, the min-label closure and the rounded cosine, each
    owned by one operators module."""

    CASES = {
        "daily cents": (
            'd = ev.groupBy(\n    "event_type", F.col("ts").cast("date").alias("day")\n'
            ').agg(\n    F.round(F.sum(F.col("value").cast(DEC)) * 100, 0)\n)\n',
            'q = """SELECT event_type, CAST(ts AS DATE) AS day,\n'
            "  CAST(ROUND(SUM(CAST(value AS DECIMAL(38,6))) * 100, 0) AS BIGINT)"
            ' AS c FROM events GROUP BY 1, 2"""\n',
        ),
        "co-purchase self-join": (
            None,
            'q = """SELECT DISTINCT a.pk AS u, b.pk AS v\n'
            '  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk"""\n',
        ),
        "label vote": (
            'w = Window.partitionBy("node").orderBy(F.desc("c"), "label")\n',
            'q = """row_number() OVER (PARTITION BY a.node\n'
            '  ORDER BY COUNT(*) DESC, l.label) AS rn"""\n',
        ),
        "held-out bigram aggregate": (
            'occ = pr.groupBy("is_eval", "lang", "v", "w").agg(F.count("*"))\n',
            'q = """SELECT is_eval, lang, v, w, COUNT(*) AS cnt FROM p"""\n',
        ),
        "min-label closure": (
            "def _find(x):\n    while parent[x] != x:\n        x = parent[x]\n",
            'q = """cc(id, lab) AS (SELECT id, id FROM nodes UNION\n'
            '  SELECT e.src, c.lab FROM sym e JOIN c ON c.id = e.dst)"""\n',
        ),
        "rounded cosine": (
            'c = F.round(\n    SS.dot(F.col("a"), F.col("b")) / (F.col("na") * F.col("nb")), 6\n)\n',
            'q = """SELECT ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),\n'
            '  CAST(b.embedding AS DOUBLE[])), 6) AS cos_sim"""\n',
        ),
        "event totals": (
            'a = ev.groupBy("event_type").agg(\n    F.count(F.lit(1)).alias("n_events"),\n'
            '    dec_sum("value", 4).alias("sum_value"),\n)\n',
            'q = """SELECT event_type, COUNT(*) AS n_events,\n'
            '  CAST(ROUND(SUM(CAST(value AS DECIMAL(38,6))), 4) AS DOUBLE) AS sum_value\n'
            '  FROM events GROUP BY 1"""\n',
        ),
    }

    def test_spark_and_sql_copies_fire(self):
        for kind, srcs in self.CASES.items():
            for src in filter(None, srcs):
                hits = find_fragment_copies(src, "proto_to_avro_ql_spark/entry_registry.py")
                assert any(f"({kind})" in h for h in hits), (kind, hits)

    def test_owner_exempt_only_for_its_own_kinds(self):
        graphs = "proto_to_avro_ql_spark/operators/graphs.py"
        vote = self.CASES["label vote"][0]
        assert not find_fragment_copies(vote, graphs)
        daily = self.CASES["daily cents"][1]
        assert any("(daily cents)" in h for h in find_fragment_copies(daily, graphs))
        tok = 'toks = F.split(TX.normalize_text(F.col("text")), " ")\n'
        for owner in (graphs, "proto_to_avro_ql_spark/operators/timeseries.py",
                      "proto_to_avro_ql_spark/operators/lexical.py"):
            assert any("(tokenizer)" in h for h in find_fragment_copies(tok, owner))

    def test_rounded_cosine_owner_and_renderer_calls_clean(self):
        simsearch = "proto_to_avro_ql_spark/operators/simsearch.py"
        for src in self.CASES["rounded cosine"]:
            assert not find_fragment_copies(src, simsearch)
        assert not find_fragment_copies(
            'q = f"""SELECT {SS.rounded_cosine_sql("a.embedding", "b.embedding")}"""\n'
            'c = SS.rounded_cosine("a", "b", "na", "nb")\n'
        )

    def test_event_totals_owner_and_renderer_calls_clean(self):
        windows = "proto_to_avro_ql_spark/operators/windows.py"
        for src in self.CASES["event totals"]:
            assert not find_fragment_copies(src, windows)
        assert not find_fragment_copies(
            'q = f"""SELECT event_type, {W.event_totals_sql()} FROM events"""\n'
            'a = ev.groupBy("event_type").agg(*W.event_totals())\n'
        )

    def test_event_totals_count_star_spelling_fires(self):
        """The ``F.count("*")`` spelling over a value-column parameter
        (resample_daily's former copy) is the same fact."""
        src = (
            'sparse = ev.groupBy("user_id", "_day").agg(\n'
            '    F.count("*").alias("n_events"),\n'
            '    dec_sum(value_col, 4).alias("sum_value"),\n)\n'
        )
        for rel in ("proto_to_avro_ql_spark/entry_registry.py",
                    "proto_to_avro_ql_spark/operators/timeseries.py"):
            assert any("(event totals)" in h for h in find_fragment_copies(src, rel))
        assert not find_fragment_copies(src, "proto_to_avro_ql_spark/operators/windows.py")

    def test_other_event_aggregates_are_not_totals_copies(self):
        """A bare count, or the sum in another unit or scale (the
        foreachBatch entry's integer cents), is a different fact."""
        assert not find_fragment_copies(
            'q = """SELECT COUNT(*) AS n_events,\n'
            "  CAST(ROUND(SUM(CAST(value AS DECIMAL(38,6))) * 100, 0) AS BIGINT) AS cents\n"
            '  FROM events"""\n'
            'a = ev.agg(F.count(F.lit(1)).alias("n_events"), dec_sum("value", 2).alias("s"))\n'
        )

    def test_dense_cell_closure_is_not_a_components_copy(self):
        """ext_dbscan_grid's closure is seeded from every dense cell,
        not from the pair nodes: not the connected-components twin."""
        assert not find_fragment_copies(
            'q = """r(cell, label) AS (SELECT key, key FROM dense UNION\n'
            '  SELECT e.dst, r.label FROM r JOIN edges e ON e.src = r.cell)"""\n'
        )

    def test_pair_count_relation_is_not_an_edge_copy(self):
        """ext_assoc_rules keeps the pair count: not the edge relation."""
        assert not find_fragment_copies(
            'q = """SELECT a.pk AS u, c.pk AS v, COUNT(*) AS n_pair\n'
            '  FROM b a JOIN b c ON a.ok = c.ok AND a.pk < c.pk"""\n'
        )


class TestSessionConfWritesFire:
    """R7: session-conf writes outside the (module, function)
    allowlist."""

    SRC = (
        "def run_sink(spark, path):\n"
        '    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")\n'
        "    df.sparkSession.conf.unset('spark.sql.files.maxPartitionBytes')\n"
        "\n"
        "def run_to_end(writer):\n"
        '    writer._spark.conf.set("spark.sql.shuffle.partitions", 8)\n'
    )

    def test_writes_outside_allowlist_fire(self):
        hits = find_conf_writes(self.SRC, "proto_to_avro_ql_spark/streaming/sinks.py")
        assert len(hits) == 3, hits
        assert all(h.startswith("R7") for h in hits), hits

    def test_allowlisted_function_clean(self):
        hits = find_conf_writes(self.SRC, "proto_to_avro_ql_spark/streaming/events.py")
        assert len(hits) == 2 and all("run_sink" in h for h in hits), hits

    def test_reads_and_options_clean(self):
        assert not find_conf_writes(
            "def f(spark, df, p):\n"
            '    tz = spark.conf.get("spark.sql.session.timeZone")\n'
            '    df.write.option("partitionOverwriteMode", "dynamic").parquet(p)\n',
            "proto_to_avro_ql_spark/streaming/sinks.py",
        )


class TestStreamRunsFire:
    """R8: a bounded stream started or awaited outside run_to_end."""

    EVENTS = "proto_to_avro_ql_spark/streaming/events.py"
    SRC = (
        "def run_to_end(writer):\n"
        "    q = writer.trigger(availableNow=True).start()\n"
        "    q.awaitTermination(RUN_TIMEOUT_S)\n"
        "\n"
        "def q_entry(spark, sf_dir):\n"
        '    q = df.writeStream.format("noop").trigger(availableNow=True).start()\n'
        "    q.awaitTermination()\n"
        "\n"
        "def drain(q):\n"
        "    q.awaitTermination(300)\n"
    )

    def test_runs_outside_the_runner_fire_once_per_function(self):
        hits = find_stream_runs(self.SRC, self.EVENTS)
        assert hits == [
            "R8 bounded stream run in q_entry (line 6)",
            "R8 bounded stream run in drain (line 10)",
        ], hits

    def test_runner_exempt_only_in_its_own_module(self):
        hits = find_stream_runs(self.SRC, "proto_to_avro_ql_spark/entry_registry.py")
        assert len(hits) == 3 and "run_to_end" in hits[0], hits

    def test_runner_calls_and_prose_clean(self):
        assert not find_stream_runs(
            '"""Docstring: q.awaitTermination(300) and .trigger(once=True)."""\n'
            "# comment: q.awaitTermination()\n"
            "def q_entry(spark, sf_dir):\n"
            '    run_to_end(agg.writeStream.format("noop"))\n'
            '    return drain_to_memory(df, "append")\n',
            self.EVENTS,
        )


class TestSanctionedPatternsPass:
    def test_decimal_accumulation_clean(self):
        assert not find_violations(
            "SELECT SUM(CAST(value AS DECIMAL(38,6))) FROM events"
        )

    def test_windowed_float_sum_clean(self):
        # frame-ordered accumulation is deterministic on both engines
        assert not find_violations(
            "SELECT SUM(value) OVER (PARTITION BY k ORDER BY ts) FROM events"
        )

    def test_case_predicate_on_float_clean(self):
        # float column only guards an integer summand
        assert not find_violations(
            "SELECT SUM(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) FROM l"
        )

    def test_unscaled_decimal_product_clean(self):
        # DECIMAL(38,0) products are the sanctioned integer-micros route
        assert not find_violations(
            "SELECT CAST(obs * 1000000 AS DECIMAL(38,0))"
            " * CAST(rn AS DECIMAL(38,0)) FROM t"
        )

    def test_unbalanced_guard_terminates(self):
        """An unbalanced LN( (e.g. inside a quoted fragment) must not
        hang the guard-stripping loop — it used to spin forever when
        the reconstructed 'LN(inner)' never matched for str.replace."""
        from tools.lint_oracles import _outside_guards

        assert _outside_guards("A / LN(B + (C") == "A / LN⟨⟩"
        assert (
            _outside_guards("LN(X) + SQRT(Y) / LN(unclosed")
            == "LN⟨⟩ + SQRT⟨⟩ / LN⟨⟩"
        )

    def test_rounded_ln_into_decimal_clean(self):
        # the sanctioned transcendental kernel: round first, then cast
        assert not find_violations(
            "SELECT CAST(ROUND(ln(CAST(a AS DOUBLE) / CAST(b AS DOUBLE)), 6)"
            " AS DECIMAL(38,6)) FROM t"
        )


class TestPureSelectOracles:
    """r6 ADVICE #3: the shared per-sf_dir DuckDB connection is
    stateless only while every oracle is a pure read. Both enforcement
    layers are pinned: the run-time rejection in duckdb_run and the
    registry-wide invariant the static R5 lint rides on."""

    def test_runtime_rejects_non_select(self):
        import pytest as _pytest

        from tests.oracle_check import duckdb_run

        for sql in ("SET threads=1", "CREATE TABLE x(a INT)",
                    "INSTALL httpfs", "INSERT INTO t VALUES (1)", "  "):
            with _pytest.raises(ValueError, match="one pure SELECT"):
                duckdb_run("/root/testdata/sf0.001", sql)

    def test_runtime_rejects_cte_prefixed_dml(self):
        """r7 ADVICE: DuckDB accepts CTE-prefixed DML, so the old
        first-token guard let 'WITH ... INSERT INTO ...' through and
        it MUTATED the shared connection. The parser-based guard must
        classify it as INSERT and reject."""
        import pytest as _pytest

        from tests.oracle_check import duckdb_run

        for sql in (
            "WITH c AS (SELECT 1 AS x) INSERT INTO t SELECT * FROM c",
            "SELECT 1; SELECT 2",  # multi-statement: second could be DML
        ):
            with _pytest.raises(ValueError, match="one pure SELECT"):
                duckdb_run("/root/testdata/sf0.001", sql)

    def test_runtime_accepts_select_with_and_comments(self):
        from tests.oracle_check import duckdb_run

        assert len(duckdb_run("/root/testdata/sf0.001", "SELECT 1 AS a")) == 1
        assert (
            len(
                duckdb_run(
                    "/root/testdata/sf0.001",
                    "  WITH t AS (SELECT 1 AS a) SELECT * FROM t",
                )
            )
            == 1
        )
        # r7 ADVICE: the first-token guard false-rejected oracles that
        # start with a SQL comment; the parser-based guard must not.
        assert (
            len(
                duckdb_run(
                    "/root/testdata/sf0.001",
                    "-- leading comment\nSELECT 1 AS a",
                )
            )
            == 1
        )

    def test_every_registered_oracle_is_pure(self):
        import duckdb

        from proto_to_avro_ql_spark.entry_queries import ORACLES

        for name, sql in ORACLES.items():
            stmts = duckdb.extract_statements(sql)
            assert len(stmts) == 1, (name, [str(s.type) for s in stmts])
            assert stmts[0].type == duckdb.StatementType.SELECT, (
                name,
                str(stmts[0].type),
            )
