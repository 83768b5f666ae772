"""Independent pure-Python reference for the portable sketch kernels.

tests/test_portable_kernel.py pins that the Spark and DuckDB spellings
of each kernel fragment are BIT-IDENTICAL — but both spellings are
generated from the same module, so a spec-level mistake mirrored into
both engines would sail through that gate AND through the value-hash
oracles (which compare the two engines against each other). This file
is the third implementation: every kernel re-written here from the
documented algorithm in plain Python (no SQL generation, no shared
code path beyond the public constants), then compared against the
Spark-evaluated fragments on seeded-random inputs including negatives,
ring-edge values, and unicode. A mirrored spec bug now has to be made
three times independently to survive.
"""

from __future__ import annotations

import math
import random
import re

import pandas as pd
import pytest

from pyspark.sql import functions as F

from proto_to_avro_ql_spark.functions import portable as P
from proto_to_avro_ql_spark.functions import text as TX
from tests.test_portable_kernel import TEXT_GRID

# ---------------------------------------------------------------------------
# The reference implementations. Deliberately written from the
# module docstring's algorithm description, not from the SQL text.
# ---------------------------------------------------------------------------


def ref_mix31(v: int) -> int:
    h = (v % P.M31 + P.M31) % P.M31
    h ^= h >> 15
    h = (h * 0x27D4EB2F) % P.M31
    h ^= h >> 13
    h = (h * 0x165667B1) % P.M31
    h ^= h >> 16
    return h


def ref_str_code(s: str | None) -> int:
    if not s:
        return 7
    h = 7
    for ch in s:
        h = (h * 31 + ord(ch)) % P.M31
    return h


def ref_hll_bucket(h31: int) -> int:
    return h31 >> 23


def ref_hll_rho(h31: int) -> int:
    w = h31 & ((1 << 23) - 1)
    return 24 if w == 0 else 24 - w.bit_length()


def ref_hll_estimate(keys: list[int]) -> int:
    """Whole-pipeline reference: keys -> registers -> estimate."""
    regs: dict[int, int] = {}
    for k in keys:
        h = ref_mix31(k)
        b = ref_hll_bucket(h)
        regs[b] = max(regs.get(b, 0), ref_hll_rho(h))
    s = sum(1 << (24 - r) for r in regs.values())
    s += (P.HLL_M - len(regs)) << 24
    v = P.HLL_M - len(regs)
    raw = math.floor(P.HLL_ALPHA_NUM / float(s))
    if raw <= P.HLL_LC_THRESHOLD and v > 0:
        return int(round(P.HLL_M * math.log(P.HLL_M / v)))
    return raw


def ref_cms_bucket(code: int, row: int) -> int:
    return ref_mix31(code + row * P.CMS_SALT) >> 23


def ref_quant(vec: list[float]) -> list[int]:
    return [math.floor(float(x) * P.VEC_SCALE) for x in vec]


def ref_l2sq(a: list[int], b: list[int]) -> int:
    return sum((x - y) * (x - y) for x, y in zip(a, b))


def ref_kmeans(
    vecs: dict[int, list[int]], k: int, iters: int
) -> tuple[dict[int, int], dict[int, list[int]]]:
    """Plain Lloyd's on quantized vectors: seeds = k lowest ids,
    assignment by (distance, cell) lexicographic min, exact integer
    floor-mean updates. Returns (assignment, centroids)."""
    cents = {vid: list(v) for vid, v in vecs.items() if vid < k}

    def assign() -> dict[int, int]:
        return {
            vid: min(cents, key=lambda c: (ref_l2sq(v, cents[c]), c))
            for vid, v in vecs.items()
        }

    for _ in range(iters):
        a = assign()
        new: dict[int, list[int]] = {}
        for cell in set(a.values()):
            members = [vecs[vid] for vid, c in a.items() if c == cell]
            n = len(members)
            # exact floor division (Python // floors, matching fdiv_sql)
            new[cell] = [sum(col) // n for col in zip(*members)]
        cents = new
    return assign(), cents


# ---------------------------------------------------------------------------
# Seeded adversarial inputs
# ---------------------------------------------------------------------------

_R = random.Random(20260815)
KEYS = (
    [_R.randrange(-(2**52), 2**52) for _ in range(400)]
    + [-1, 0, 1, P.M31 - 1, P.M31, P.M31 + 7, 2**52, -(2**52)]
)
STRINGS = [
    "",
    "a",
    "click",
    "日本語 テスト",
    "héllo wörld",
    "emoji 🚀",
    "x" * 300,
] + ["".join(chr(_R.randrange(32, 0x2FA0)) for _ in range(_R.randrange(1, 40)))
     for _ in range(60)]


class TestMixerAgainstPython:
    def test_mix31_spark_matches_python(self, spark):
        ms = P.mix31_spark_sql("v")
        sdf = spark.createDataFrame([(int(v),) for v in KEYS], "v long")
        got = [r[0] for r in sdf.select(F.expr(ms)).collect()]
        assert got == [ref_mix31(v) for v in KEYS]

    def test_str_code_spark_matches_python(self, spark):
        fs = P.str_code_spark_sql("s")
        sdf = spark.createDataFrame(pd.DataFrame({"s": STRINGS}))
        got = [r[0] for r in sdf.select(F.expr(fs)).collect()]
        assert got == [ref_str_code(s) for s in STRINGS]


class TestHllAgainstPython:
    def test_bucket_rho_match_python(self, spark):
        ms = P.mix31_spark_sql("v")
        b, r = P.hll_bucket_sql("h31"), P.hll_rho_sql("h31")
        sdf = (
            spark.createDataFrame([(int(v),) for v in KEYS], "v long")
            .select(F.expr(ms).alias("h31"))
            .select("h31", F.expr(b).alias("b"), F.expr(r).alias("r"))
        )
        for h31, gb, gr in sdf.collect():
            assert gb == ref_hll_bucket(h31), h31
            assert gr == ref_hll_rho(h31), h31

    @pytest.mark.parametrize("n", [5, 80, 641, 5000])
    def test_full_estimate_matches_python(self, spark, n):
        """End-to-end: the same key set through the Spark fragment
        chain (mix -> bucket/rho -> max registers -> S/V -> estimate)
        and through the Python reference — exact integer equality,
        covering the linear-counting arm (n=5, 80), the threshold
        neighborhood (n=641), and the raw arm (n=5000)."""
        rng = random.Random(20260815 + n)  # fresh per test: order-independent
        keys = [rng.randrange(-(2**50), 2**50) for _ in range(n)]
        ms = P.mix31_spark_sql("v")
        b, r = P.hll_bucket_sql("h31"), P.hll_rho_sql("h31")
        s_sql, v_sql = P.hll_s_v_sql("rho", "COUNT(*)")
        est = P.hll_estimate_sql("S", "V")
        got = (
            spark.createDataFrame([(int(v),) for v in keys], "v long")
            .select(F.expr(ms).alias("h31"))
            .select(F.expr(b).alias("bucket"), F.expr(r).alias("rho0"))
            .groupBy("bucket")
            .agg(F.max("rho0").alias("rho"))
            .agg(F.expr(s_sql).alias("S"), F.expr(v_sql).alias("V"))
            .select(F.expr(est).alias("e"))
            .collect()[0][0]
        )
        assert got == ref_hll_estimate(keys)


class TestCmsAgainstPython:
    def test_cms_bucket_matches_python(self, spark):
        bs = P.cms_bucket_spark_sql("c", "r")
        # 120 random draws PLUS the adversarial tail (KEYS[400:] holds the
        # ring-edge and negative values: -1, 0, M31-1, M31, ±2^52) so the
        # CMS path covers the edge cases this file exists for.
        rows = [(int(c), r) for c in KEYS[:120] + KEYS[400:] for r in range(P.CMS_D)]
        sdf = spark.createDataFrame(rows, "c long, r int")
        got = [x[0] for x in sdf.select(F.expr(bs)).collect()]
        assert got == [ref_cms_bucket(c, r) for c, r in rows]


class TestVectorKernelsAgainstPython:
    def test_quant_and_l2sq_match_python(self, spark):
        rng = random.Random(20260901)  # fresh per test: order-independent
        vecs = [
            [(rng.random() * 2 - 1) for _ in range(8)] for _ in range(50)
        ]
        import numpy as np

        f32 = [[float(np.float32(x)) for x in v] for v in vecs]
        sdf = spark.createDataFrame(
            [(i, v, f32[(i + 1) % len(f32)]) for i, v in enumerate(f32)],
            "i long, a array<float>, b array<float>",
        )
        qa, qb = P.vec_quant_spark_sql("a"), P.vec_quant_spark_sql("b")
        got = (
            sdf.select(
                "i",
                F.expr(qa).alias("qa"),
                F.expr(
                    P.l2sq_spark_sql(qa, qb)
                ).alias("d"),
            )
            .orderBy("i")
            .collect()
        )
        for i, (row, v) in enumerate(zip(got, f32)):
            assert list(row["qa"]) == ref_quant(v), i
            assert row["d"] == ref_l2sq(
                ref_quant(v), ref_quant(f32[(i + 1) % len(f32)])
            ), i

    def test_kmeans_chain_matches_python(self, spark):
        """The full integer-grid Lloyd's chain against the plain-Python
        reference on a 30×6 float32 table: same assignment, same FULL
        trained centroid relation (kmeans_train_int == ref_kmeans final
        update, including any final-empty cell), and the joined
        kmeans_cells_int view carries exactly the assignment-surviving
        subset. This is the third implementation of the chain the
        ext_kmeans/ext_sim_search_ivf oracles rely on."""
        import numpy as np

        from proto_to_avro_ql_spark.operators.simsearch import (
            kmeans_cells_int,
            kmeans_train_int,
        )

        rng = random.Random(20260902)  # fresh per test: order-independent
        raw = [
            [float(np.float32(rng.random() * 2 - 1)) for _ in range(6)]
            for _ in range(30)
        ]
        sdf = spark.createDataFrame(
            [(i, v) for i, v in enumerate(raw)],
            "vec_id long, embedding array<float>",
        )
        q = {i: ref_quant(v) for i, v in enumerate(raw)}
        ref_assign, ref_cents = ref_kmeans(q, k=4, iters=2)

        _, cents = kmeans_train_int(sdf, k=4, iters=2)
        got_trained = {r["cell"]: list(r["cv"]) for r in cents.collect()}
        assert got_trained == ref_cents  # FULL set, final-empty cells included

        out = kmeans_cells_int(sdf, k=4, iters=2).collect()
        got_assign = {r["vec_id"]: r["cell"] for r in out}
        assert got_assign == ref_assign
        got_cents = {r["cell"]: list(r["cv"]) for r in out}
        live = set(ref_assign.values())
        assert got_cents == {c: v for c, v in ref_cents.items() if c in live}


def ref_ivf_topk(
    vecs: dict[int, list[int]],
    query_ids: list[int],
    k: int,
    probes: int,
    k_cells: int,
    iters: int,
) -> set[tuple[int, int, int, int]]:
    """Plain-Python IVF: Lloyd's cells, probe the L2-nearest
    ``probes`` centroids per query, exact rank (dist, id) within the
    probed lists."""
    assign, cents = ref_kmeans(vecs, k=k_cells, iters=iters)
    out = set()
    for qid in query_ids:
        qv = vecs[qid]
        probed = sorted(cents, key=lambda c: (ref_l2sq(qv, cents[c]), c))[
            :probes
        ]
        cands = sorted(
            (
                (ref_l2sq(qv, vecs[nid]), nid)
                for nid, cell in assign.items()
                if cell in probed and nid != qid
            )
        )
        for rank, (d, nid) in enumerate(cands[:k], start=1):
            out.add((qid, nid, d, rank))
    return out


def ref_pq_adc_topk(
    vecs: dict[int, list[int]],
    query_ids: list[int],
    k: int,
    m: int,
    k_codes: int,
    iters: int,
) -> set[tuple[int, int, int, int]]:
    """Plain-Python PQ ADC: per-subspace Lloyd's codebooks over the
    quantized subvectors, candidates encoded as per-sub codes, distance
    = sum over subspaces of the query-to-centroid LUT entry."""
    dim = len(next(iter(vecs.values())))
    sub_len = dim // m
    subs = {
        s: {vid: v[s * sub_len : (s + 1) * sub_len] for vid, v in vecs.items()}
        for s in range(m)
    }
    books = {}
    codes = {}
    for s in range(m):
        codes_s, cents_s = ref_kmeans(subs[s], k=k_codes, iters=iters)
        books[s], codes[s] = cents_s, codes_s
    out = set()
    for qid in query_ids:
        scored = {}
        for nid in vecs:
            if nid == qid:
                continue
            scored[nid] = sum(
                ref_l2sq(subs[s][qid], books[s][codes[s][nid]])
                for s in range(m)
            )
        top = sorted((d, nid) for nid, d in scored.items())[:k]
        for rank, (d, nid) in enumerate(top, start=1):
            out.add((qid, nid, d, rank))
    return out


class TestAnnChainsAgainstPython:
    def test_ivf_chain_matches_python(self, spark):
        import numpy as np

        from proto_to_avro_ql_spark.operators.simsearch import ivf_topk_int

        rng = random.Random(20260903)  # fresh per test: order-independent
        raw = [
            [float(np.float32(rng.random() * 2 - 1)) for _ in range(6)]
            for _ in range(40)
        ]
        sdf = spark.createDataFrame(
            [(i, v) for i, v in enumerate(raw)],
            "vec_id long, embedding array<float>",
        )
        qids = [2, 11, 29]
        got = {
            (r["query_id"], r["neighbor_id"], r["l2_dist"], r["rank"])
            for r in ivf_topk_int(
                sdf, qids, k=3, probes=2, k_cells=4, iters=2
            ).collect()
        }
        q = {i: ref_quant(v) for i, v in enumerate(raw)}
        assert got == ref_ivf_topk(q, qids, k=3, probes=2, k_cells=4, iters=2)

    def test_pq_chain_matches_python(self, spark):
        import numpy as np

        from proto_to_avro_ql_spark.operators.simsearch import pq_adc_topk_int

        rng = random.Random(20260904)  # fresh per test: order-independent
        raw = [
            [float(np.float32(rng.random() * 2 - 1)) for _ in range(8)]
            for _ in range(36)
        ]
        sdf = spark.createDataFrame(
            [(i, v) for i, v in enumerate(raw)],
            "vec_id long, embedding array<float>",
        )
        qids = [1, 13, 27]
        got = {
            (r["query_id"], r["neighbor_id"], r["adc_dist"], r["rank"])
            for r in pq_adc_topk_int(
                sdf, qids, k=3, m=2, k_codes=3, iters=1
            ).collect()
        }
        q = {i: ref_quant(v) for i, v in enumerate(raw)}
        assert got == ref_pq_adc_topk(q, qids, k=3, m=2, k_codes=3, iters=1)

    def test_ivf_probes_include_final_empty_centroid(self, spark):
        """Planted regression for the orphaned-centroid divergence: a
        centroid that ends the LAST Lloyd's iteration with zero members
        must still be probe-rankable (the DuckDB oracle ranks over the
        whole c{iters} CTE; a probe set derived from the
        assignment⋈centroids join silently drops it). Seed 20×4 @
        seed=1629 trains k_cells=4/iters=2 to an orphan (cell 2) that
        ranks within probes=2 of queries 2 and 4 AND changes their
        top-3 — so this test fails loudly if ivf_topk_int ever reverts
        to ranking over the joined assignment's centroid set."""
        import numpy as np

        from proto_to_avro_ql_spark.operators.simsearch import ivf_topk_int

        rng = random.Random(1629)
        raw = [
            [float(np.float32(rng.random() * 2 - 1)) for _ in range(4)]
            for _ in range(20)
        ]
        q = {i: ref_quant(v) for i, v in enumerate(raw)}
        ref_assign, ref_cents = ref_kmeans(q, k=4, iters=2)
        live = set(ref_assign.values())
        orphans = set(ref_cents) - live
        assert orphans == {2}, "planted property drifted — re-search the seed"
        qids = [2, 4]
        full = ref_ivf_topk(q, qids, k=3, probes=2, k_cells=4, iters=2)
        # the discriminating property: dropping the orphan changes the answer
        surv_cents = {c: v for c, v in ref_cents.items() if c in live}
        dropped = set()
        for qid in qids:
            qv = q[qid]
            probed = sorted(
                surv_cents, key=lambda c: (ref_l2sq(qv, surv_cents[c]), c)
            )[:2]
            cands = sorted(
                (ref_l2sq(qv, q[nid]), nid)
                for nid, cell in ref_assign.items()
                if cell in probed and nid != qid
            )
            for rank, (d, nid) in enumerate(cands[:3], start=1):
                dropped.add((qid, nid, d, rank))
        assert dropped != full, "planted property drifted — re-search the seed"

        sdf = spark.createDataFrame(
            [(i, v) for i, v in enumerate(raw)],
            "vec_id long, embedding array<float>",
        )
        got = {
            (r["query_id"], r["neighbor_id"], r["l2_dist"], r["rank"])
            for r in ivf_topk_int(
                sdf, qids, k=3, probes=2, k_cells=4, iters=2
            ).collect()
        }
        assert got == full


class TestLnMicrosCrossEngine:
    """Adversarial probe for the DSIR log-ratio transport
    (entry_registry.q_ext_dsir_weights).

    The entry freezes ln(a·b/(c·d)) to integer micros with the four
    counts CAST to DOUBLE before the multiply. Two claims are probed
    here, on inputs a hash-exact oracle run can't reach:

    1. **No int64 overflow**: count tuples sized like a 100 TB corpus
       (~1e13 tokens) — where the previous (ct+1)*(nr+B) BIGINT product
       form would exceed 2^63 — evaluate identically on Spark, DuckDB,
       and a plain-Python double reference.
    2. **LN ulp / ROUND .5 boundary**: libm (DuckDB) and JVM Math.log
       (Spark) are ≤1 ulp, not correctly rounded. A micros flip needs
       the .5 boundary of ROUND(ln·1e6) to fall inside that ulp. We
       seeded-search 200k random tuples for the 24 whose fractional
       micros land closest to .5 and pin all three engines on exactly
       those.
    """

    EXPR_TMPL = (
        "CAST(ROUND(LN(CAST(ct + 1 AS DOUBLE) * CAST(nr + {b} AS DOUBLE)"
        " / (CAST(cr + 1 AS DOUBLE) * CAST(nt + {b} AS DOUBLE))) * 1000000)"
        " AS BIGINT)"
    )

    @staticmethod
    def ref_lrm(ct: int, nr: int, cr: int, nt: int, b: int) -> int:
        x = (float(ct + 1) * float(nr + b)) / (float(cr + 1) * float(nt + b))
        # Python round() is banker's; SQL ROUND is half-away — emulate.
        y = math.log(x) * 1e6
        return math.floor(y + 0.5) if y >= 0 else math.ceil(y - 0.5)

    def _tuples(self) -> list[tuple[int, int, int, int]]:
        rng = random.Random(20260816)
        # (1) 100 TB-scale tuples: nr ~ 1e13 total tokens, ct*nr ≈ 1e24
        # >> 2^63 ≈ 9.2e18 — the old integer-product form overflows.
        big = []
        for _ in range(40):
            nr = rng.randrange(10**12, 2 * 10**13)
            nt = rng.randrange(nr // 100, nr // 2)
            cr = rng.randrange(10**9, 10**12)
            ct = rng.randrange(0, cr)
            big.append((ct, nr, cr, nt))
        # (2) boundary search: keep the tuples whose ln·1e6 fractional
        # part is closest to .5 — the only place an LN ulp can flip
        # ROUND between engines.
        cands = []
        for _ in range(200_000):
            nr = rng.randrange(10**3, 10**13)
            nt = rng.randrange(1, nr)
            cr = rng.randrange(1, nr)
            ct = rng.randrange(0, cr + 1)
            x = (float(ct + 1) * float(nr + 64)) / (
                float(cr + 1) * float(nt + 64)
            )
            frac = abs((math.log(x) * 1e6) % 1.0 - 0.5)
            cands.append((frac, ct, nr, cr, nt))
        cands.sort()
        edge = [(ct, nr, cr, nt) for _, ct, nr, cr, nt in cands[:24]]
        return big + edge

    def test_ln_micros_cross_engine(self, spark):
        import duckdb

        rows = self._tuples()
        expr = self.EXPR_TMPL.format(b=64)
        ref = [self.ref_lrm(ct, nr, cr, nt, 64) for ct, nr, cr, nt in rows]

        sdf = spark.createDataFrame(
            rows, "ct long, nr long, cr long, nt long"
        ).coalesce(1)
        got_spark = [
            r[0] for r in sdf.selectExpr(f"{expr} AS lrm").collect()
        ]
        assert got_spark == ref

        con = duckdb.connect()
        con.execute(
            "CREATE TABLE t(ct BIGINT, nr BIGINT, cr BIGINT, nt BIGINT)"
        )
        con.executemany("INSERT INTO t VALUES (?,?,?,?)", rows)
        got_duck = [
            r[0]
            for r in con.execute(f"SELECT {expr} AS lrm FROM t").fetchall()
        ]
        assert got_duck == ref

    def test_old_product_form_would_overflow(self):
        # Document WHY the cast-before-multiply form exists: the probed
        # 100 TB tuples genuinely break the int64-product spelling.
        ct, nr, cr, nt = next(
            t for t in self._tuples() if t[1] >= 10**12 and t[0] >= 10**6
        )
        assert (ct + 1) * (nr + 64) > 2**63 - 1


# ---------------------------------------------------------------------------
# Shared text fragments (functions/text.py) and the eval split
# ---------------------------------------------------------------------------

_WS = re.compile(r"[ \t\n\x0b\x0c\r]+")  # Java's \s: ASCII whitespace incl. VT


def ref_tokens(s: str) -> list[str]:
    return _WS.sub(" ", s.lower()).strip(" ").split(" ")


def ref_nonempty(s: str) -> list[str]:
    return [t for t in ref_tokens(s) if t]


def ref_pairs(a: list[str]) -> list[tuple[str, str]]:
    return list(zip(a, a[1:]))


def ref_shingles(s: str, n: int) -> list[str]:
    t = ref_tokens(s)
    if len(t) < n:
        return [" ".join(t)]
    return sorted({" ".join(t[i:i + n]) for i in range(len(t) - n + 1)})


class TestTextFragmentsAgainstPython:
    """Both engines' renderings of the tokenizer, non-empty tokens,
    adjacent pairs, shingles and eval split against plain Python."""

    def _rows(self, spark, n):
        sdf = spark.createDataFrame(
            [(i, s) for i, s in enumerate(TEXT_GRID)], "i int, text string"
        ).select("i", "text", TX.nonempty_tokens(F.col("text")).alias("a"))
        return sdf.orderBy("i").select(
            TX.tokens(F.col("text")).alias("t"),
            "a",
            TX.adjacent_pairs("a").alias("p"),
            TX.shingles(F.col("text"), n).alias("sh"),
        ).collect()

    @pytest.mark.parametrize("n", [3, 8])
    def test_spark_matches_python(self, spark, n):
        for s, r in zip(TEXT_GRID, self._rows(spark, n)):
            assert list(r["t"]) == ref_tokens(s), repr(s)
            assert list(r["a"]) == ref_nonempty(s), repr(s)
            assert [(p["v"], p["w"]) for p in r["p"]] == ref_pairs(ref_nonempty(s))
            assert sorted(r["sh"]) == ref_shingles(s, n), repr(s)

    @pytest.mark.parametrize("n", [3, 8])
    def test_duckdb_matches_python(self, n):
        import duckdb

        con = duckdb.connect()
        for s in TEXT_GRID:
            t, a, sh = con.execute(
                f"SELECT t, a, {TX.shingles_sql('t', n)} FROM (SELECT "
                f"{TX.tokens_sql()} AS t, {TX.nonempty_tokens_sql()} AS a "
                "FROM (SELECT CAST(? AS VARCHAR) AS text))",
                [s],
            ).fetchone()
            assert t == ref_tokens(s), repr(s)
            assert a == ref_nonempty(s), repr(s)
            assert sorted(sh) == ref_shingles(s, n), repr(s)
            p = con.execute(
                f"SELECT {TX.adjacent_pairs_sql('a')} FROM (SELECT ? AS a)", [a]
            ).fetchall()
            assert [tuple(x) for x in p] == ref_pairs(a)

    def test_eval_split_matches_python(self, spark):
        import duckdb

        keys = [int(k) for k in KEYS]
        ref = [ref_mix31(k) % 5 == 0 for k in keys]
        sdf = spark.createDataFrame([(k,) for k in keys], "doc_id long")
        got = [r[0] for r in sdf.select(F.expr(P.eval_split_spark_sql("doc_id"))).collect()]
        assert got == ref
        con = duckdb.connect()
        got = [
            con.execute(
                f"SELECT {P.eval_split_duckdb_sql('doc_id')} FROM "
                "(SELECT CAST(? AS BIGINT) AS doc_id)",
                [k],
            ).fetchone()[0]
            for k in keys
        ]
        assert got == ref


# ---------------------------------------------------------------------------
# Relation fragments: label propagation (operators/graphs.py) and the
# daily revenue cents (operators/timeseries.py)
# ---------------------------------------------------------------------------


def ref_label_propagation(edges: list[tuple[int, int]], rounds: int) -> dict[int, int]:
    """Synchronous rounds: every node takes the label most frequent
    among its neighbours' previous labels, the smallest on a tie."""
    nbrs: dict[int, list[int]] = {}
    for u, v in edges:
        nbrs.setdefault(u, []).append(v)
        nbrs.setdefault(v, []).append(u)
    labels = {n: n for n in nbrs}
    for _ in range(rounds):
        new = {}
        for n, ns in nbrs.items():
            counts: dict[int, int] = {}
            for m in ns:
                counts[labels[m]] = counts.get(labels[m], 0) + 1
            top = max(counts.values())
            new[n] = min(lab for lab, c in counts.items() if c == top)
        labels = new
    return labels


# A path (every inner node sees a 1-1 tie), a triangle hanging off it,
# a 4-cycle (2-2 ties) and a star whose hub is not the smallest id;
# the duplicate (2, 3) and the self-loop (20, 20) each change every
# round's labels, so both must count once per copy, as in the union.
LPA_EDGES = [
    (1, 2), (2, 3), (3, 4), (4, 5), (5, 6),
    (6, 7), (6, 8), (7, 8),
    (10, 11), (11, 12), (12, 13), (10, 13),
    (20, 9), (20, 21), (20, 22), (20, 23),
    (2, 3), (20, 20),
]


class TestLabelPropagationAgainstPython:
    @pytest.mark.parametrize(
        "rounds, distributed",
        [pytest.param(r, False, id=str(r)) for r in (1, 2, 3)]
        + [pytest.param(r, True, id=f"distributed-{r}") for r in (1, 2, 3)],
    )
    def test_spark_matches_python(self, spark, monkeypatch, rounds, distributed):
        from proto_to_avro_ql_spark.operators import clustering as CL
        from proto_to_avro_ql_spark.operators import graphs as GR

        if distributed:
            monkeypatch.setattr(CL, "LOCAL_CUTOFF", 0)
        edges = spark.createDataFrame(LPA_EDGES, "u long, v long")
        got = {r["node"]: r["label"] for r in GR.label_propagation(edges, rounds).collect()}
        assert got == ref_label_propagation(LPA_EDGES, rounds)

    @pytest.mark.parametrize("rounds", [1, 2, 3])
    def test_duckdb_matches_python(self, rounds):
        import duckdb

        from proto_to_avro_ql_spark.operators import graphs as GR

        values = ", ".join(f"({u}, {v}), ({v}, {u})" for u, v in LPA_EDGES)
        got = dict(
            duckdb.connect().execute(
                f"WITH adj AS (SELECT * FROM (VALUES {values}) t(node, nbr)), "
                f"{GR.label_propagation_sql(rounds)} SELECT node, label FROM r{rounds}"
            ).fetchall()
        )
        assert got == ref_label_propagation(LPA_EDGES, rounds)


# (event_type, ts, value): per (type, day) the sums land on half cents,
# positive and negative, and each day has events at both of its ends.
HALF_CENT_EVENTS = [
    ("a", "2024-01-01 00:00:00", 0.005),
    ("a", "2024-01-02 00:00:00", 0.015),
    ("a", "2024-01-02 23:59:59", 0.01),
    ("b", "2024-01-01 12:00:00", -0.005),
    ("b", "2024-01-02 00:00:00", 1.125),
    ("b", "2024-01-02 23:59:59", 1.0),
    ("c", "2024-01-01 06:00:00", 2.675),
    ("c", "2024-01-02 01:00:00", 0.1),
    ("c", "2024-01-02 02:00:00", 0.2),
    ("c", "2024-01-02 03:00:00", -0.305),
    ("d", "2024-01-01 00:00:00", 0.004999),
    ("d", "2024-01-01 23:59:59", -1.234565),
]


def ref_daily_cents(events) -> dict[tuple[str, str], int]:
    from decimal import ROUND_HALF_UP, Decimal

    sums: dict[tuple[str, str], Decimal] = {}
    for et, ts, v in events:
        key = (et, ts[:10])
        sums[key] = sums.get(key, Decimal(0)) + Decimal(repr(v))
    return {
        k: int((s * 100).quantize(Decimal(1), rounding=ROUND_HALF_UP))
        for k, s in sums.items()
    }


class TestDailyCentsAgainstPython:
    @pytest.fixture(scope="class")
    def events(self):
        import pyarrow as pa

        return pa.table({
            "event_type": [e[0] for e in HALF_CENT_EVENTS],
            "ts": pa.array(pd.to_datetime([e[1] for e in HALF_CENT_EVENTS]), pa.timestamp("us")),
            "value": [e[2] for e in HALF_CENT_EVENTS],
        })

    def test_spark_matches_python(self, spark, events, tmp_path):
        import pyarrow.parquet as pq

        from proto_to_avro_ql_spark.operators import timeseries as TS

        pq.write_table(events, tmp_path / "events.parquet")
        got = {
            (r["event_type"], str(r["day"])): r["cents"]
            for r in TS.daily_cents(spark, str(tmp_path), "cents").collect()
        }
        assert got == ref_daily_cents(HALF_CENT_EVENTS)

    def test_duckdb_matches_python(self, events):
        import duckdb

        from proto_to_avro_ql_spark.operators import timeseries as TS

        con = duckdb.connect()
        con.register("events", events)
        got = {
            (et, str(day)): c
            for et, day, c in con.execute(
                f"WITH {TS.daily_cents_sql('cents')} SELECT event_type, day, cents FROM d"
            ).fetchall()
        }
        assert got == ref_daily_cents(HALF_CENT_EVENTS)
