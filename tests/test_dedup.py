"""Self-checks for the dedup tier: planted duplicates must be found.

These pin the correctness of the operators whose internals aren't
SQL-portable (MinHash LSH, SimHash) by testing recall/precision against
planted near-duplicates and against the exact n-gram Jaccard operator.
"""

from __future__ import annotations

import pytest

from proto_to_avro_ql_spark.operators import dedup as DD
from proto_to_avro_ql_spark.operators import simsearch as SS


@pytest.fixture(scope="module")
def docs(spark):
    base = (
        "the quick brown fox jumps over the lazy dog while the cat watches "
        "from the warm windowsill and the birds sing in the garden outside"
    )
    near = base.replace("warm", "cold")  # one-token change → high jaccard
    rows = [
        (1, base),
        (2, base),  # exact dup of 1
        (3, near),  # near dup of 1
        (4, "completely different text about spark query engines and shuffles"),
        (5, "COMPLETELY   different text about spark query engines and shuffles"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestExactAndNear:
    def test_exact(self, docs):
        out = {r.keep_id: r.n_dups for r in DD.dedup_exact(docs).collect()}
        assert out[1] == 2  # docs 1,2 collapse
        assert out[4] == 1 and out[5] == 1  # case diff ≠ exact dup

    def test_near_hash_normalizes(self, docs):
        out = {r.keep_id: r.n_dups for r in DD.dedup_near_hash(docs).collect()}
        assert out[1] == 2
        assert out[4] == 2  # 4,5 collapse after normalize


class TestJaccard:
    def test_exact_pairs(self, docs):
        pairs = {
            (r.id_a, r.id_b): r.jaccard
            for r in DD.ngram_jaccard_pairs(docs, threshold=0.3, max_df=10).collect()
        }
        assert pairs[(1, 2)] == 1.0
        assert pairs[(1, 3)] > 0.6  # one-token change in a 22-token doc
        assert (1, 4) not in pairs

    def test_minhash_lsh_finds_planted(self, docs):
        pairs = {
            (r.id_a, r.id_b): r.jaccard
            for r in DD.minhash_lsh_pairs(docs, threshold=0.3).collect()
        }
        assert (1, 2) in pairs and pairs[(1, 2)] == 1.0
        assert (1, 3) in pairs  # LSH must recall the near-dup
        # verification step guarantees no false positives below threshold
        assert all(j >= 0.3 for j in pairs.values())

    def test_minhash_agrees_with_exact(self, spark, sf_dir):
        from proto_to_avro_ql_spark.sources.io import read_table

        docs = read_table(spark, sf_dir, "documents")
        exact = {
            (r.id_a, r.id_b)
            for r in DD.ngram_jaccard_pairs(docs, threshold=0.3, max_df=100).collect()
        }
        lsh = {
            (r.id_a, r.id_b)
            for r in DD.minhash_lsh_pairs(docs, threshold=0.3).collect()
        }
        # LSH pairs are a subset of exact pairs (verify step) with high recall
        assert lsh <= exact
        if exact:
            assert len(lsh) / len(exact) >= 0.8


class TestSimhash:
    def test_exact_dup_zero_hamming(self, docs):
        pairs = {(r.id_a, r.id_b): r.hamming for r in DD.simhash_pairs(docs).collect()}
        assert pairs[(1, 2)] == 0
        assert pairs[(4, 5)] == 0  # normalization collapses case/whitespace

    def test_md5_hash_finds_planted_near_dups(self, docs):
        # the md5 token hash (portable to the DuckDB oracle) finds the
        # planted near dup next to the exact/normalized dups
        pairs = {(r.id_a, r.id_b): r.hamming for r in DD.simhash_pairs(docs).collect()}
        assert pairs[(1, 2)] == 0
        assert pairs[(4, 5)] == 0
        assert (1, 3) in pairs and (2, 3) in pairs


class TestEmbedDedup:
    def test_lsh_subset_of_exact(self, spark, sf_dir):
        from proto_to_avro_ql_spark.sources.io import read_table

        emb = read_table(spark, sf_dir, "embeddings")
        exact = {
            (r.id_a, r.id_b)
            for r in SS.embedding_near_dup_pairs(emb, threshold=0.2, exact=True).collect()
        }
        approx = {
            (r.id_a, r.id_b)
            for r in SS.embedding_near_dup_pairs(emb, threshold=0.2, exact=False).collect()
        }
        assert approx <= exact


class TestContamination:
    def test_planted_overlap(self, spark):
        from pyspark.sql import functions as F

        span = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
        docs = spark.createDataFrame(
            [
                (0, f"EVAL {span} more eval words here"),       # eval (id%2==0... use explicit pred)
                (1, f"corpus prefix {span} corpus suffix"),     # contaminated
                (2, "totally different words with no overlap at all"),
            ],
            "doc_id long, text string",
        )
        out = {
            r.doc_id: r.n_shared
            for r in DD.contamination_check(docs, F.col("doc_id") == 0).collect()
        }
        assert 1 in out and out[1] >= 1
        assert 2 not in out


class TestSpanScrub:
    def test_cross_doc_boilerplate_removed_exactly(self, spark, tmp_path):
        """Round-12 scrub semantics on a hand-built corpus: an 8-token
        passage shared by two docs is cut from both (plus every token
        any covering window reaches); a within-doc-only repeat and a
        short doc are untouched."""
        import duckdb as _d

        boiler = "the quick brown fox jumps over the lazy"  # 8 tokens
        rows = [
            (1, f"alpha {boiler} omega", "en", "s", 0),
            (2, f"{boiler} tail words here", "en", "s", 0),
            # within-doc repeat only: kept (n_docs = 1)
            (3, "x y z x y z x y z x y z x y z x y", "en", "s", 0),
            (4, "short doc", "en", "s", 0),
        ]
        fx = tmp_path / "fx"
        fx.mkdir()
        con = _d.connect()
        con.execute(
            "CREATE TABLE d (doc_id BIGINT, text VARCHAR, lang VARCHAR,"
            " source VARCHAR, n_chars BIGINT)"
        )
        con.executemany("INSERT INTO d VALUES (?,?,?,?,?)", rows)
        con.execute(f"COPY d TO '{fx}/documents.parquet' (FORMAT PARQUET)")
        from proto_to_avro_ql_spark.entry_queries import QUERIES

        got = {
            r["doc_id"]: r
            for r in QUERIES["ext_span_scrub"](spark, str(fx)).collect()
        }
        # doc 1: tokens alpha + 8 boiler + omega = 10; the one shared
        # window covers exactly the boiler tokens.
        assert got[1]["n_tokens"] == 10
        assert got[1]["n_tokens_removed"] == 8
        assert got[1]["scrubbed_text"] == "alpha omega"
        # doc 2: boiler is its PREFIX; same 8 tokens cut.
        assert got[2]["n_tokens_removed"] == 8
        assert got[2]["scrubbed_text"] == "tail words here"
        # doc 3: repeats only within itself -> untouched.
        assert got[3]["n_tokens_removed"] == 0
        assert got[3]["scrubbed_text"].startswith("x y z")
        # doc 4: shorter than the window -> unchanged.
        assert got[4]["n_tokens_removed"] == 0
        assert got[4]["scrubbed_text"] == "short doc"


class TestWinnowing:
    def test_matches_sequential_textbook_algorithm(self, spark):
        """Third implementation of winnowing: the paper's sequential
        formulation (slide the window, pick min hash, rightmost on
        ties, union the picks) in plain Python over the same portable
        hash chain — validating the two-aggregate (per-window MIN,
        then MAX position at MIN) decomposition."""
        import re
        from collections import defaultdict

        import duckdb as _d

        from proto_to_avro_ql_spark.entry_queries import QUERIES
        from tests.test_kneser_ney import _ref_mix31
        from tests.test_portable_reference import ref_str_code

        SF = "/root/testdata/sf0.001"
        rows = (
            _d.connect()
            .execute(f"SELECT doc_id, text FROM '{SF}/documents.parquet'")
            .fetchall()
        )
        K, W = 3, 4
        fps = {}
        for doc_id, t in rows:
            a = [
                x
                for x in re.sub(r"\s+", " ", t.lower()).strip().split(" ")
                if x
            ]
            hs = [
                _ref_mix31(ref_str_code(" ".join(a[i : i + K])))
                for i in range(len(a) - K + 1)
            ]
            sel = set()
            for e in range(W, len(hs) + 1):  # window hs[e-W : e]
                win = hs[e - W : e]
                m = min(win)
                # rightmost position of the min within the window
                p = max(i for i in range(e - W, e) if hs[i] == m)
                sel.add((p + 1, hs[p]))  # 1-based position
            fps[doc_id] = (len(hs), sel)
        shared_of = defaultdict(set)
        for d, (_, sel) in fps.items():
            for _, h in sel:
                shared_of[h].add(d)
        expect = {}
        for d, (nk, sel) in fps.items():
            hset = {h for _, h in sel}
            nsh = sum(1 for h in hset if len(shared_of[h]) >= 2)
            nw = max(nk - W + 1, 0)
            dens = (len(sel) * 1_000_000) // nw if nw > 0 else 0
            expect[d] = (nk, len(sel), nsh, dens)
        got = {
            r["doc_id"]: (
                r["n_kgrams"],
                r["n_fp"],
                r["n_shared_fp"],
                r["density_micro"],
            )
            for r in QUERIES["ext_winnowing"](spark, SF).collect()
        }
        assert got == expect
        # Paper guarantee: expected density ~ 2/(w+1) = 0.4; the
        # corpus-wide mean selection density sits near it.
        dens = [v[3] for v in got.values() if v[0] >= W]
        mean = sum(dens) / len(dens) / 1e6
        assert 0.3 < mean < 0.55, mean
        # The overlap signal is contentful: some docs share
        # fingerprints (planted near-dups), some don't.
        assert any(v[2] > 0 for v in got.values())
        assert any(v[2] == 0 for v in got.values())
