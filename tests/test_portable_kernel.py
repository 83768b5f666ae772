"""Cross-engine parity for the portable sketch kernels (round 8).

The rows-only → oracled upgrades of the sketch entries rest on ONE
claim: the Spark and DuckDB spellings of each kernel fragment compute
bit-identical integers. These tests pin that claim directly — a dense
integer grid plus adversarial string inputs through every fragment
pair, compared value-for-value across engines. If an engine changes
its ``%``/``FLOOR``/``bin``/fold semantics, this fails before any
oracle does (and diagnoses WHICH fragment drifted, which a whole-entry
hash mismatch cannot).
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from pyspark.sql import functions as F

from proto_to_avro_ql_spark.functions import portable as P
from proto_to_avro_ql_spark.functions import text as TX


@pytest.fixture(scope="module")
def con():
    return duckdb.connect()


GRID = 50_000


class TestMixerParity:
    def test_mix31_bit_identical_on_grid(self, spark, con):
        """0..49999 plus values near the 31-bit ring edge, both raw
        mixes compared element-wise via an order-insensitive checksum
        AND min/max (a permutation cannot sneak past both)."""
        md = P.mix31_duckdb_sql("v")
        ms = P.mix31_spark_sql("v")
        d = con.execute(
            f"SELECT SUM({md}), MIN({md}), MAX({md}), "
            f"SUM({md} * (v % 97)) "
            f"FROM (SELECT unnest(range(0, {GRID})) AS v)"
        ).fetchone()
        sdf = spark.range(0, GRID).select(F.col("id").alias("v"))
        s = tuple(
            sdf.select(
                F.expr(f"SUM({ms})"),
                F.expr(f"MIN({ms})"),
                F.expr(f"MAX({ms})"),
                F.expr(f"SUM(({ms}) * (v % 97))"),
            ).collect()[0]
        )
        assert tuple(d) == s

    def test_mix31_handles_negative_and_large_keys(self, spark, con):
        vals = [-1, -123456789, 0, 1, M := P.M31 - 1, P.M31, P.M31 + 7, 2**52]
        md = P.mix31_duckdb_sql("v")
        ms = P.mix31_spark_sql("v")
        d = [
            con.execute(f"SELECT {md} FROM (SELECT CAST(? AS BIGINT) AS v)", [x])
            .fetchone()[0]
            for x in vals
        ]
        sdf = spark.createDataFrame([(x,) for x in vals], "v long")
        s = [r[0] for r in sdf.select(F.expr(ms)).collect()]
        assert d == s
        # and the mix stays on the 31-bit ring
        assert all(0 <= x < P.M31 for x in d)

    def test_string_fold_parity_including_unicode(self, spark, con):
        strs = [
            "click", "error", "purchase", "signup", "view", "",
            "日本語 テスト", "héllo wörld", "emoji 🚀", "a" * 500,
        ]
        fd = P.str_code_duckdb_sql("s")
        fs = P.str_code_spark_sql("s")
        d = [
            con.execute(f"SELECT {fd} FROM (SELECT CAST(? AS VARCHAR) AS s)", [x])
            .fetchone()[0]
            for x in strs
        ]
        sdf = spark.createDataFrame(pd.DataFrame({"s": strs}))
        s = [r[0] for r in sdf.select(F.expr(fs)).collect()]
        assert d == s
        assert len(set(d)) == len(strs)  # no accidental collisions here


class TestHllFragmentParity:
    def test_bucket_and_rho_grid(self, spark, con):
        md = P.mix31_duckdb_sql("v")
        ms = P.mix31_spark_sql("v")
        b, r = P.hll_bucket_sql("h31"), P.hll_rho_sql("h31")
        d = con.execute(
            f"WITH h AS (SELECT {md} AS h31 FROM "
            f"(SELECT unnest(range(0, {GRID})) AS v)) "
            f"SELECT SUM({b}), SUM({r}), MIN({b}), MAX({b}), MAX({r}) FROM h"
        ).fetchone()
        s = tuple(
            spark.range(0, GRID)
            .select(F.expr(ms.replace("v", "id")).alias("h31"))
            .select(
                F.expr(f"SUM({b})"),
                F.expr(f"SUM({r})"),
                F.expr(f"MIN({b})"),
                F.expr(f"MAX({b})"),
                F.expr(f"MAX({r})"),
            )
            .collect()[0]
        )
        assert tuple(d) == s
        assert 0 <= d[2] and d[3] < P.HLL_M and d[4] <= 24

    def test_estimate_formula_parity_on_synthetic_registers(self, spark, con):
        """Drive S/V/estimate over synthetic register relations covering
        the linear-counting arm, the threshold edge, and the raw arm."""
        for n_regs, rho in [(3, 2), (100, 1), (256, 7), (256, 1), (40, 24)]:
            rows = [(i, rho) for i in range(n_regs)]
            s_sql, v_sql = P.hll_s_v_sql("rho", "COUNT(*)")
            est = P.hll_estimate_sql("S", "V")
            d = con.execute(
                "WITH regs AS (SELECT * FROM (VALUES "
                + ", ".join(f"({b}, {r})" for b, r in rows)
                + ") t(bucket, rho)), sv AS "
                f"(SELECT {s_sql} AS S, {v_sql} AS V FROM regs) "
                f"SELECT CAST({est} AS BIGINT) FROM sv"
            ).fetchone()[0]
            sdf = spark.createDataFrame(rows, "bucket long, rho int")
            s = (
                sdf.agg(
                    F.expr(s_sql).alias("S"), F.expr(v_sql).alias("V")
                )
                .select(F.expr(f"CAST({est} AS BIGINT)"))
                .collect()[0][0]
            )
            assert d == s, (n_regs, rho, d, s)


class TestCmsFragmentParity:
    def test_cms_bucket_parity_over_rows_and_codes(self, spark, con):
        bd = P.cms_bucket_duckdb_sql("c", "r")
        bs = P.cms_bucket_spark_sql("c", "r")
        d = con.execute(
            f"SELECT SUM({bd} * (1 + r)), MIN({bd}), MAX({bd}) FROM "
            f"(SELECT unnest(range(0, 2000)) AS c), "
            f"(SELECT unnest(range(0, {P.CMS_D})) AS r)"
        ).fetchone()
        sdf = (
            spark.range(0, 2000)
            .select(F.col("id").alias("c"))
            .crossJoin(spark.range(0, P.CMS_D).select(F.col("id").alias("r")))
        )
        s = tuple(
            sdf.select(
                F.expr(f"SUM(({bs}) * (1 + r))"),
                F.expr(f"MIN({bs})"),
                F.expr(f"MAX({bs})"),
            ).collect()[0]
        )
        assert tuple(d) == s
        assert 0 <= d[1] and d[2] < P.CMS_W


# Whitespace edge cases for the shared tokenizer: vertical tab (Java's
# \s matches it, RE2's does not unless named), no-break space, em
# space, the FS control and NEL (no engine's \s matches those), empty,
# all-blank, and mixed case / tab / newline prose.
TEXT_GRID = [
    "a\x0bb",
    "a\u00a0b",
    "a\u2003b",
    "a\x1cb",
    "a\x85b",
    "",
    " \t\n\x0b\x0c\r ",
    "  Mixed\tCASE\ntext \r\n with  TABS\t\tand\x0bNewlines ",
    "The cat and the dog of the house went to the market and the fair, the end!",
    "one two",
    "Word isn't\x0b--it's 42!",
]


class TestTextFragmentParity:
    """Each shared text fragment renders the same values in Spark and
    DuckDB over TEXT_GRID (shingle/n-gram lists compared as sorted
    lists: DuckDB's list_distinct does not keep first-seen order)."""

    @staticmethod
    def _duck(con, expr: str, texts: list[str]) -> list:
        return [
            con.execute(
                f"SELECT {expr} FROM (SELECT CAST(? AS VARCHAR) AS text, "
                f"{TX.nonempty_tokens_sql()} AS a, {TX.tokens_sql()} AS t)",
                [s],
            ).fetchone()[0]
            for s in texts
        ]

    @staticmethod
    def _spark(spark, col, texts: list[str]) -> list:
        sdf = spark.createDataFrame([(i, s) for i, s in enumerate(texts)], "i int, text string")
        sdf = sdf.select(
            "i", "text", TX.nonempty_tokens(F.col("text")).alias("a"),
            TX.tokens(F.col("text")).alias("t"),
        )
        return [r[1] for r in sdf.select("i", col).orderBy("i").collect()]

    def test_scalar_fragments(self, spark, con):
        pairs = [
            ("t", TX.tokens(F.col("text")), TX.tokens_sql()),
            ("a", TX.nonempty_tokens(F.col("text")), TX.nonempty_tokens_sql()),
            ("ws", TX.token_count_ws(F.col("text")), TX.token_count_ws_sql()),
            ("bpe", TX.token_count_bpe(F.col("text")), TX.token_count_bpe_sql()),
            ("punct", TX.punct_ratio(F.col("text")), TX.punct_ratio_sql()),
            ("stop", TX.stopword_ratio(F.col("text")), TX.stopword_ratio_sql()),
            ("quality", TX.quality_score(F.col("text")), TX.quality_score_sql()),
            ("joined", TX.joined_pairs("a"), TX.joined_pairs_sql("a")),
            ("joined_sep", TX.joined_pairs("a", "·"), TX.joined_pairs_sql("a", "·")),
        ]
        for name, sc, dq in pairs:
            s = self._spark(spark, sc, TEXT_GRID)
            d = self._duck(con, dq, TEXT_GRID)
            assert [list(x) if isinstance(x, list) else x for x in s] == d, name

    @pytest.mark.parametrize("n", [3, 8])
    def test_shingles_and_ngrams(self, spark, con, n):
        s = self._spark(spark, TX.shingles(F.col("text"), n), TEXT_GRID)
        d = self._duck(con, TX.shingles_sql("t", n), TEXT_GRID)
        assert [sorted(x) for x in s] == [sorted(x) for x in d]
        s = self._spark(
            spark,
            F.expr(
                f"CASE WHEN size(a) >= {n} THEN transform(sequence(1, size(a) - {n - 1}),"
                f" i -> array_join(slice(a, i, {n}), ' ')) ELSE array() END"
            ),
            TEXT_GRID,
        )
        d = self._duck(con, TX.ngrams_sql("a", n), TEXT_GRID)
        assert [list(x) for x in s] == d

    def test_adjacent_pairs(self, spark, con):
        s = [
            [(p["v"], p["w"]) for p in x]
            for x in self._spark(spark, TX.adjacent_pairs("a"), TEXT_GRID)
        ]
        d = [
            con.execute(
                f"SELECT {TX.adjacent_pairs_sql('a')} FROM "
                f"(SELECT {TX.nonempty_tokens_sql()} AS a FROM "
                f"(SELECT CAST(? AS VARCHAR) AS text))",
                [x],
            ).fetchall()
            for x in TEXT_GRID
        ]
        assert s == [[tuple(r) for r in x] for x in d]

    def test_eval_split(self, spark, con):
        ks, kd = P.eval_split_spark_sql("v"), P.eval_split_duckdb_sql("v")
        d = con.execute(
            f"SELECT list(v ORDER BY v) FROM (SELECT unnest(range(0, 5000)) AS v) WHERE {kd}"
        ).fetchone()[0]
        s = [
            r[0]
            for r in spark.range(0, 5000).select(F.col("id").alias("v"))
            .where(F.expr(ks)).orderBy("v").collect()
        ]
        assert s == d and 800 < len(s) < 1200
