from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Decimal

import pytest

from proto_to_avro_ql_spark.operators import simsearch as SS
from proto_to_avro_ql_spark.sources.io import read_table


def _vectors(emb, ids) -> dict[int, list[float]]:
    """vec_id → embedding (as Python floats) for the given ids."""
    from pyspark.sql import functions as F

    rows = emb.where(F.col("vec_id").isin(sorted(ids))).collect()
    return {r.vec_id: [float(x) for x in r.embedding] for r in rows}


def _cos(a: list[float], b: list[float]) -> float:
    """Unrounded cosine, summed left to right like the Spark fold."""
    dot = na = nb = 0.0
    for x, y in zip(a, b):
        dot += x * y
        na += x * x
        nb += y * y
    return dot / (math.sqrt(na) * math.sqrt(nb))


def ref_rounded_cosine(a: list[float], b: list[float]) -> float:
    """Plain-Python rounded cosine: HALF_UP at 6 places on the
    double's shortest decimal form, as Spark's round() does."""
    q = Decimal(repr(_cos(a, b))).quantize(Decimal("1e-6"), ROUND_HALF_UP)
    return float(q)


class TestBruteForce:
    def test_topk_shape_and_order(self, spark, sf_dir):
        emb = read_table(spark, sf_dir, "embeddings")
        out = SS.brute_force_topk(emb, query_ids=[0, 1], k=3).collect()
        by_q = {}
        for r in out:
            by_q.setdefault(r.query_id, []).append(r)
        for q, rows in by_q.items():
            assert len(rows) == 3
            sims = [r.cos_sim for r in sorted(rows, key=lambda r: r.rank)]
            assert sims == sorted(sims, reverse=True)
            assert all(r.neighbor_id != q for r in rows)

    def test_self_similarity_excluded_and_bounded(self, spark, sf_dir):
        emb = read_table(spark, sf_dir, "embeddings")
        out = SS.brute_force_topk(emb, query_ids=[5], k=10).collect()
        assert all(-1.0 <= r.cos_sim <= 1.0 for r in out)


class TestLsh:
    def test_lsh_recall_vs_brute_force(self, spark, sf_dir):
        emb = read_table(spark, sf_dir, "embeddings")
        exact = SS.brute_force_topk(emb, query_ids=[0, 1, 2], k=5).collect()
        approx = SS.lsh_topk(emb, query_ids=[0, 1, 2], k=5, planes=2).collect()
        exact_set = {(r.query_id, r.neighbor_id) for r in exact}
        approx_set = {(r.query_id, r.neighbor_id) for r in approx}
        # with 2 planes (4 buckets) recall should be substantial
        assert len(approx_set & exact_set) / len(exact_set) >= 0.4
        # every approx hit must carry the exact cosine (scores aren't approximated)
        exact_scores = {(r.query_id, r.neighbor_id): r.cos_sim for r in exact}
        for r in approx:
            if (r.query_id, r.neighbor_id) in exact_scores:
                assert abs(r.cos_sim - exact_scores[(r.query_id, r.neighbor_id)]) < 1e-9


class TestSemanticDedup:
    def test_greedy_lower_id_wins_within_cell_only(self, spark):
        """Identical vectors in the SAME cell dedup to the lowest id;
        an identical vector in ANOTHER cell is untouched (cell-scoped
        by design — cross-cell dups are the clustering's recall miss,
        exactly the SemDeDup trade)."""
        from proto_to_avro_ql_spark.operators.simsearch import semantic_dedup_cells

        emb = spark.createDataFrame(
            [
                (1, [1.0, 0.0], 0),
                (2, [1.0, 0.0], 0),   # dup of 1, same cell -> dropped
                (3, [0.0, 1.0], 0),   # orthogonal -> kept
                (4, [1.0, 0.0], 1),   # dup of 1, other cell -> kept
            ],
            "vec_id long, embedding array<float>, label int",
        )
        kept = {r.vec_id for r in semantic_dedup_cells(emb, threshold=0.9).collect()}
        assert kept == {1, 3, 4}

    def test_empty_input(self, spark):
        from proto_to_avro_ql_spark.operators.simsearch import semantic_dedup_cells

        empty = spark.createDataFrame(
            [], "vec_id long, embedding array<float>, label int"
        )
        assert semantic_dedup_cells(empty).count() == 0


class TestHybridSearch:
    def test_rrf_fuses_both_rankings(self, spark, sf_dir):
        """Every output row carries at least one non-zero branch rank;
        a doc ranked by BOTH branches must out-score a doc ranked the
        same by only one (the RRF property)."""
        from proto_to_avro_ql_spark.entry_queries import QUERIES

        rows = QUERIES["ext_hybrid_search"](spark, sf_dir).collect()
        assert 0 < len(rows) <= 10
        assert all(r.lex_rank > 0 or r.vec_rank > 0 for r in rows)
        # monotone: output is sorted by fused score then id
        scores = [r.rrf for r in rows]
        assert scores == sorted(scores, reverse=True) or len(set(scores)) < len(scores)
        for r in rows:
            expect = (1.0 / (60 + r.lex_rank) if r.lex_rank else 0.0) + (
                1.0 / (60 + r.vec_rank) if r.vec_rank else 0.0
            )
            assert abs(r.rrf - expect) < 1e-6


class TestIntegerGridVariants:
    """Round 8: the oracled integer-grid variants must keep the
    QUALITY the float variants promised — the DuckDB oracle proves
    cross-engine exactness, these prove the answers are still good.
    Embeddings are unit-normalized (probed: all L2 norms 1.0), so
    integer squared-L2 ranking == cosine ranking up to quantization."""

    def test_ivf_int_recall_vs_brute_force(self, spark, sf_dir):
        from proto_to_avro_ql_spark.operators import simsearch as SS
        from proto_to_avro_ql_spark.sources.io import read_table

        emb = read_table(spark, sf_dir, "embeddings")
        exact = SS.brute_force_topk(emb, query_ids=[0, 1, 2], k=5).collect()
        approx = SS.ivf_topk_int(emb, query_ids=[0, 1, 2], k=5, probes=3).collect()
        es = {(r.query_id, r.neighbor_id) for r in exact}
        a = {(r.query_id, r.neighbor_id) for r in approx}
        # observed 0.93 at sf0.001/0.01; bound leaves probe-miss room
        assert len(es & a) / len(es) >= 0.4, (len(es & a), len(es))
        # IVF prunes candidates, never scores: every returned distance
        # is the exact integer squared L2 of the pair's quantized vectors
        from tests.test_portable_reference import ref_l2sq, ref_quant

        vecs = _vectors(emb, {i for pair in a for i in pair})
        for r in approx:
            assert r.l2_dist == ref_l2sq(
                ref_quant(vecs[r.query_id]), ref_quant(vecs[r.neighbor_id])
            ), (r.query_id, r.neighbor_id)

    def test_kmeans_int_assigns_every_vector(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from proto_to_avro_ql_spark.operators import simsearch as SS
        from proto_to_avro_ql_spark.sources.io import read_table

        emb = read_table(spark, sf_dir, "embeddings")
        assigned = SS.kmeans_cells_int(emb, k=8, iters=2)
        assert assigned.count() == emb.count()
        cells = [r.cell for r in assigned.select("cell").distinct().collect()]
        assert 1 < len(cells) <= 8 and all(0 <= c < 8 for c in cells)
        bad = assigned.where(F.size("cv") != 64).count()
        assert bad == 0

    def test_pq_int_recall_vs_brute_force(self, spark, sf_dir):
        from proto_to_avro_ql_spark.operators import simsearch as SS
        from proto_to_avro_ql_spark.sources.io import read_table

        emb = read_table(spark, sf_dir, "embeddings")
        qids = [3, 17, 41, 77, 101, 150, 200, 260, 333, 444]
        pq = SS.pq_adc_topk_int(emb, qids, k=5, m=16, k_codes=32, iters=2).collect()
        assert len(pq) == 5 * len(qids)
        bf = SS.brute_force_topk(emb, qids, k=5).collect()
        b = {(r["query_id"], r["neighbor_id"]) for r in bf}
        p = {(r["query_id"], r["neighbor_id"]) for r in pq}
        # observed 0.34 (sf0.001) / 0.48 (sf0.01); random baseline ~0.01
        assert len(b & p) / len(b) >= 0.2, (len(b & p), len(b))
        # compression quality: PQ's neighbors keep >= 0.7 of brute
        # force's mean exact cosine (observed 0.847 / 0.855) on this
        # weakly-clustered corpus (brute-force mean top-5 cosine ~0.32)
        vecs = _vectors(emb, {i for pair in b | p for i in pair})

        def mean_cos(pairs):
            return sum(_cos(vecs[q], vecs[n]) for q, n in pairs) / len(pairs)

        assert mean_cos(p) / mean_cos(b) >= 0.7, (mean_cos(p), mean_cos(b))

    def test_mean_vectors_fused_matches_exploded_with_null_vector(self, spark):
        """The fused small-dim centroid update must skip a NULL vector
        exactly like the exploded path (posexplode drops it), not count
        it as a member."""
        df = spark.createDataFrame(
            [
                (0, [1, 2, 3, 4]),
                (0, [4, 4, 4, 5]),
                (0, None),
                (1, [-3, 0, 7, 1]),
                (1, [2, -5, 8, 2]),
            ],
            "cell int, v array<bigint>",
        )
        fused = SS._mean_vectors_int(df, [], dim=4).orderBy("cell").collect()
        exploded = SS._mean_vectors_int(df, []).orderBy("cell").collect()
        assert [list(r.cv) for r in fused] == [list(r.cv) for r in exploded]
        assert [list(r.cv) for r in fused] == [[2, 3, 3, 4], [-1, -3, 7, 1]]


class TestSemDedup:
    def test_matches_python_reference(self, spark):
        """Third implementation of the SemDeDup chain: ref_kmeans
        (plain Lloyd's on quantized vectors) + per-cluster cosine in
        plain Python, compared row-for-row to ext_semdedup_kmeans."""
        import duckdb
        import math

        from proto_to_avro_ql_spark.entry_queries import QUERIES
        from tests.test_portable_reference import ref_kmeans, ref_quant

        sf = "/root/testdata/sf0.001"
        rows = (
            duckdb.connect()
            .execute(f"SELECT vec_id, embedding FROM '{sf}/embeddings.parquet' ORDER BY vec_id")
            .fetchall()
        )
        raw = {int(vid): [float(x) for x in v] for vid, v in rows}
        assign, _ = ref_kmeans({v: ref_quant(x) for v, x in raw.items()}, 8, 2)
        by_cell: dict[int, list[int]] = {}
        for vid, cell in assign.items():
            by_cell.setdefault(cell, []).append(vid)

        def cos(a, b):
            dot = sum(x * y for x, y in zip(a, b))
            na = math.sqrt(sum(x * x for x in a))
            nb = math.sqrt(sum(x * x for x in b))
            return round(dot / (na * nb), 6)

        dups = set()
        for cell, ids in by_cell.items():
            ids.sort()
            for j, b in enumerate(ids):
                for a in ids[:j]:
                    if cos(raw[a], raw[b]) >= 0.2:
                        dups.add(b)
                        break
        expect = {
            vid: (assign[vid], 1 if vid in dups else 0) for vid in raw
        }
        got = {
            r["vec_id"]: (r["cell"], r["is_dup"])
            for r in QUERIES["ext_semdedup_kmeans"](spark, sf).collect()
        }
        assert got == expect
        # The bucketing must actually dedup something and keep something.
        n_dup = sum(d for _, d in got.values())
        assert 0 < n_dup < len(got)


class TestMMRSelect:
    def test_matches_sequential_python_greedy(self, spark):
        """Third implementation of MMR: the paper's sequential greedy
        in plain Python over the same quantized vectors — and the
        diversity property (MMR's picks are pairwise farther apart
        than plain top-k's)."""
        import math

        import duckdb as _d

        from proto_to_avro_ql_spark.entry_queries import QUERIES

        SF = "/root/testdata/sf0.001"
        rows = (
            _d.connect()
            .execute(
                f"SELECT vec_id, embedding FROM '{SF}/embeddings.parquet'"
            )
            .fetchall()
        )
        from proto_to_avro_ql_spark.functions.portable import VEC_SCALE

        vq = {
            vid: [int(math.floor(float(x) * VEC_SCALE)) for x in emb]
            for vid, emb in rows
        }
        qv = vq[0]

        def d2(a, b):
            return sum((x - y) * (x - y) for x, y in zip(a, b))

        cand = {vid: d2(v, qv) for vid, v in vq.items() if vid != 0}
        picks, div = [], {}
        for i in range(1, 9):
            if i == 1:
                vid = min(cand, key=lambda d: (cand[d], d))
                picks.append((i, vid, cand[vid], None))
            else:
                vid = max(cand, key=lambda d: (div[d] - cand[d], -d))
                picks.append((i, vid, cand[vid], div[vid]))
            sel_v = vq[vid]
            del cand[vid]
            div.pop(vid, None)
            for d in cand:
                nd = d2(vq[d], sel_v)
                div[d] = nd if d not in div else min(div[d], nd)
        expect = {p[0]: p[1:] for p in picks}
        got = {
            r["sel_rank"]: (r["vec_id"], r["rel_d2"], r["div_d2"])
            for r in QUERIES["ext_mmr_select"](spark, SF).collect()
        }
        assert got == expect
        # Diversity property: MMR's min pairwise distance beats the
        # plain relevance top-8's.
        mmr_ids = [v[0] for v in expect.values()]
        top8 = sorted(vq, key=lambda d: (d2(vq[d], qv), d))[1:9]

        def min_pair(ids):
            return min(
                d2(vq[a], vq[b])
                for i, a in enumerate(ids)
                for b in ids[i + 1 :]
            )

        assert min_pair(mmr_ids) > min_pair(top8)


class TestRoundedCosineReference:
    """The rounded-cosine renderer and its DuckDB twin against the
    plain-Python reference, and brute_force_topk against
    brute_force_topk_sql on the same rows: negative cosines, identical
    vectors, and neighbours that tie after rounding (broken by id)."""

    VECS = {
        0: [1.0, 0.0, 0.0],
        1: [1.0, 0.0, 0.0],  # identical to 0
        2: [1.0, 0.0001, 0.0],  # cos(0, 2) = 0.999999995: ties with 1
        3: [1.0, 0.0002, 0.0],  # cos(0, 3) = 0.99999998: ties too
        4: [-1.0, 0.0, 0.0],  # opposite to 0
        5: [-0.5, 0.25, 0.75],
        6: [0.5, 0.5, -0.5],
        7: [0.0, 1.0, 1.0],
    }

    def _frames(self, spark):
        import duckdb
        import numpy as np
        import pyarrow as pa

        ids = sorted(self.VECS)
        vecs = {i: [float(np.float32(x)) for x in self.VECS[i]] for i in ids}
        sdf = spark.createDataFrame(
            [(i, vecs[i]) for i in ids], "vec_id long, embedding array<float>"
        )
        con = duckdb.connect()
        con.register(
            "embeddings",
            pa.table(
                {
                    "vec_id": pa.array(ids, pa.int64()),
                    "embedding": pa.array(
                        [vecs[i] for i in ids], pa.list_(pa.float32())
                    ),
                }
            ),
        )
        return vecs, sdf, con

    def test_pairwise_values(self, spark):
        from pyspark.sql import functions as F

        vecs, sdf, con = self._frames(spark)
        ref = {
            (a, b): ref_rounded_cosine(vecs[a], vecs[b])
            for a in vecs
            for b in vecs
            if a < b
        }
        assert ref[(0, 1)] == ref[(0, 2)] == ref[(0, 3)] == 1.0
        assert _cos(vecs[0], vecs[2]) != _cos(vecs[0], vecs[3])
        assert ref[(0, 4)] == -1.0 and any(-1.0 < v < 0 for v in ref.values())

        def side(s):
            return sdf.select(
                F.col("vec_id").alias(f"id_{s}"),
                F.col("embedding").alias(f"v_{s}"),
                SS.l2_norm("embedding").alias(f"n_{s}"),
            )

        spark_vals = {
            (r.id_a, r.id_b): r.c
            for r in side("a")
            .crossJoin(side("b"))
            .where(F.col("id_a") < F.col("id_b"))
            .select(
                "id_a",
                "id_b",
                SS.rounded_cosine("v_a", "v_b", "n_a", "n_b").alias("c"),
            )
            .collect()
        }
        duck_vals = {
            (a, b): c
            for a, b, c in con.execute(
                f"""SELECT x.vec_id, y.vec_id,
                       {SS.rounded_cosine_sql("x.embedding", "y.embedding")}
                    FROM embeddings x JOIN embeddings y ON x.vec_id < y.vec_id"""
            ).fetchall()
        }
        assert spark_vals == ref
        assert duck_vals == ref

    def test_topk_twins_break_ties_by_id(self, spark):
        vecs, sdf, con = self._frames(spark)
        qids, k = [0, 4], 4
        ref = set()
        for q in qids:
            scored = sorted(
                (-ref_rounded_cosine(vecs[q], vecs[n]), n) for n in vecs if n != q
            )
            ref |= {(q, n, -c, r + 1) for r, (c, n) in enumerate(scored[:k])}
        assert (0, 1, 1.0, 1) in ref and (0, 3, 1.0, 3) in ref
        got = {tuple(r) for r in SS.brute_force_topk(sdf, qids, k).collect()}
        duck = set(con.execute(SS.brute_force_topk_sql(qids, k)).fetchall())
        assert got == ref
        assert duck == ref


class TestSaltedPairScanReference:
    """The salted within-key pair scan at SALT 1 and 8 equals an O(n²)
    Python loop on a small grid with repeated vectors (pairs tied at
    1.0) and pairs whose rounded cosine equals the threshold."""

    @pytest.mark.parametrize("salt", [1, 8])
    def test_matches_quadratic_loop(self, spark, monkeypatch, salt):
        monkeypatch.setattr(SS, "SALT", salt)
        rows = [
            (i, [float(i % 3), float((i // 3) % 2), 1.0], i % 4) for i in range(24)
        ]
        cos = {
            (a, b): ref_rounded_cosine(va, vb)
            for a, va, ca in rows
            for b, vb, cb in rows
            if a < b and ca == cb
        }
        threshold = sorted(set(cos.values()))[len(set(cos.values())) // 2]
        expect = {(a, b, c) for (a, b), c in cos.items() if c >= threshold}
        assert any(c == threshold for _, _, c in expect)
        assert sum(c == 1.0 for _, _, c in expect) > 1
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, cell int"
        )
        got = {
            tuple(r)
            for r in SS._salted_pairs(
                df, "cell", threshold, "vec_id", "embedding"
            ).collect()
        }
        assert got == expect


def _fold_dot(a, b):
    """Σ a[i]·b[i] summed left to right in doubles; None on a null
    element or on arrays of different lengths."""
    if len(a) != len(b) or None in a or None in b:
        return None
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


def _round6(x):
    """HALF_UP at 6 places on the double's shortest decimal form."""
    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), ROUND_HALF_UP))


class TestKernelReference:
    """The SQL-text kernels against plain left-to-right double math over
    float32 inputs: negative values, a null element and a ragged pair
    (both NULL), a zero vector (NULL cosine), and the bucket of every
    vector against the seeded hyperplanes."""

    ROWS = [
        (0, [0.5, -1.25, 3.0, 0.1], [2.0, 0.3, -0.7, 0.001]),
        (1, [-1.0, -2.0, -3.0, -4.0], [4.0, 3.0, 2.0, 1.0]),
        (2, [0.1, 0.2, 0.3, 0.4], [0.1, 0.2, 0.3, 0.4]),
        (3, [1.0, None, 2.0, 3.0], [1.0, 1.0, 1.0, 1.0]),  # null element
        (4, [1.0, 2.0, 3.0], [1.0, 2.0, 3.0, 4.0]),  # ragged pair
        (5, [0.0, 0.0, 0.0, 0.0], [-0.3, 0.7, 1.1, -2.5]),  # zero vector
    ]

    def test_kernels_match_plain_python(self, spark):
        import numpy as np

        def f32(v):
            return [None if x is None else float(np.float32(x)) for x in v]

        rows = [(i, f32(a), f32(b)) for i, a, b in self.ROWS]
        planes = SS._hyperplanes(4, 3)
        expect = {}
        for i, a, b in rows:
            d = _fold_dot(a, b)
            na, nb = _fold_dot(a, a), _fold_dot(b, b)
            na = None if na is None else math.sqrt(na)
            nb = None if nb is None else math.sqrt(nb)
            cos = None
            if None not in (d, na, nb) and na * nb != 0:
                cos = _round6(d / (na * nb))
            bucket = 0
            for k, p in enumerate(planes):
                h = _fold_dot(a, p)
                if h is not None and h >= 0:
                    bucket += 1 << k
            expect[i] = (d, na, nb, cos, bucket)
        assert expect[3][:4] == (None, None, 2.0, None)
        assert expect[4][0] is None and expect[4][3] is None
        assert expect[5][1] == 0.0 and expect[5][3] is None
        assert expect[1][3] < 0 and len({e[4] for e in expect.values()}) > 2

        df = spark.createDataFrame(rows, "i int, a array<float>, b array<float>")
        got = df.select(
            "i", "a", "b",
            SS.dot("a", "b").alias("d"),
            SS.l2_norm("a").alias("na"),
            SS.l2_norm("b").alias("nb"),
        ).select(
            "i", "d", "na", "nb",
            SS.rounded_cosine("a", "b", "na", "nb").alias("cos"),
            SS.lsh_bucket("a", 4, 3).alias("bucket"),
        )
        assert {r.i: tuple(r)[1:] for r in got.collect()} == expect


class TestZeroVector:
    """An all-zero embedding has no direction: its cosine with anything
    is NULL on both engines (DuckDB's bare list_cosine_similarity says
    -1.0; Spark's ANSI division would raise). Pairs never include it,
    and in a top-k its NULL scores sort after every scored neighbour,
    ties broken by neighbour id."""

    ZERO = (4, 9)

    def _frames(self, spark):
        import random

        import duckdb
        import numpy as np
        import pyarrow as pa

        rng = random.Random(7)
        vecs = {i: [rng.gauss(0.0, 1.0) for _ in range(64)] for i in range(10)}
        vecs[3] = [2.0 * x for x in vecs[1]]  # a duplicate direction of 1
        for z in self.ZERO:
            vecs[z] = [0.0] * 64
        vecs = {i: [float(np.float32(x)) for x in v] for i, v in vecs.items()}
        ids = sorted(vecs)
        sdf = spark.createDataFrame(
            [(i, vecs[i]) for i in ids], "vec_id long, embedding array<float>"
        )
        con = duckdb.connect()
        con.register(
            "embeddings",
            pa.table({
                "vec_id": pa.array(ids, pa.int64()),
                "embedding": pa.array([vecs[i] for i in ids], pa.list_(pa.float32())),
            }),
        )
        return sdf, con

    def test_pairs_skip_the_zero_vector(self, spark):
        sdf, con = self._frames(spark)
        cos = SS.rounded_cosine_sql("a.embedding", "b.embedding")
        exact_sql = f"""SELECT id_a, id_b, cos_sim FROM (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b, {cos} AS cos_sim
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
            WHERE cos_sim >= 0.9"""
        lsh_sql = f"""WITH e AS (SELECT vec_id, embedding,
              {SS.lsh_bucket_sql()} AS bucket FROM embeddings)
            SELECT id_a, id_b, cos_sim FROM (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b, {cos} AS cos_sim
              FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
            WHERE cos_sim >= 0.9"""
        for exact, sql in ((True, exact_sql), (False, lsh_sql)):
            got = {
                tuple(r)
                for r in SS.embedding_near_dup_pairs(sdf, 0.9, exact=exact).collect()
            }
            assert got == {(1, 3, 1.0)}, exact
            assert set(con.execute(sql).fetchall()) == got, exact
        zero_pair = con.execute(
            f"""SELECT {cos} FROM embeddings a, embeddings b
                WHERE a.vec_id = 4 AND b.vec_id = 1"""
        ).fetchall()
        assert zero_pair == [(None,)]

    def test_topk_sorts_null_scores_last(self, spark):
        sdf, con = self._frames(spark)
        qids, k = [1, 4], 9
        got = {tuple(r) for r in SS.brute_force_topk(sdf, qids, k).collect()}
        assert got == set(con.execute(SS.brute_force_topk_sql(qids, k)).fetchall())
        by_q = {q: sorted((r, n, c) for qq, n, c, r in got if qq == q) for q in qids}
        # the zero vector as query: every score NULL, neighbours by id
        assert by_q[4] == [(r + 1, n, None) for r, n in enumerate(
            [0, 1, 2, 3, 5, 6, 7, 8, 9])]
        # the zero vectors as neighbours: after every scored one
        assert [(n, c) for _, n, c in by_q[1][-2:]] == [(4, None), (9, None)]
        assert all(c is not None for _, _, c in by_q[1][:-2])
        assert by_q[1][0][1:] == (3, 1.0)
