"""Planted hot-key skew benchmark — the measured evidence behind the
skew rows in SCALE.md.

Builds a skewed fact table from lineitem (95% of rows share key 0, the
rest spread over 10k keys), replicated to ~6M rows, then times:

1. ``window_total`` — per-key total attached to every row via
   ``Window.partitionBy(key)``: the hot key's entire partition lands in
   ONE task's sort. vs ``agg_join`` — the same result as a groupBy
   (map-side partials, fully parallel) broadcast-joined back. Identical
   output, structurally different worst task.
2. ``smj_skew_aqe`` — the skewed fact joined to a 10k-row dim with
   broadcast disabled (forcing a shuffle join, the 100 TB fact-fact
   shape) with AQE skew-join splitting ON vs OFF.

Run:  python tools/skew_bench.py            # sf0.1 fact base
Emits one JSON line per experiment on stdout.
"""

from __future__ import annotations

import json
import os
import sys
import time

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from proto_to_avro_ql_spark.session import get_spark  # noqa: E402
from proto_to_avro_ql_spark.sources.io import read_table  # noqa: E402

REPLICATE = 10
HOT_FRACTION = 0.95
N_KEYS = 10_000


def skewed_fact(spark, sf_dir: str) -> DataFrame:
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    rep = li.withColumn("_r", F.explode(F.sequence(F.lit(1), F.lit(REPLICATE))))
    return rep.select(
        F.when(F.rand(7) < HOT_FRACTION, F.lit(0))
        .otherwise(F.pmod(F.xxhash64("l_orderkey", "_r"), F.lit(N_KEYS)))
        .alias("key"),
        F.col("l_extendedprice").alias("v"),
    )


def timed(label: str, fn) -> dict:
    t0 = time.perf_counter()
    out = fn()
    wall = round(time.perf_counter() - t0, 3)
    return {"experiment": label, "wall_s": wall, "result": out}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("skew_bench")
    fact = skewed_fact(spark, sf_dir).persist()
    n = fact.count()
    print(f"# fact rows: {n}", file=sys.stderr)

    # -- experiment 1: per-key total on every row -------------------------
    def window_total():
        w = Window.partitionBy("key")
        df = fact.select("key", "v", F.sum("v").over(w).alias("key_total"))
        return df.agg(F.round(F.sum("key_total") / 1e12, 3)).first()[0]

    def agg_join():
        totals = fact.groupBy("key").agg(F.sum("v").alias("key_total"))
        df = fact.join(F.broadcast(totals), "key").select("key", "v", "key_total")
        return df.agg(F.round(F.sum("key_total") / 1e12, 3)).first()[0]

    for label, fn in [("window_total", window_total), ("agg_join", agg_join)]:
        fn()  # warm
        print(json.dumps(timed(label, fn)))

    # -- experiment 2: forced-SMJ skewed join, AQE skew split on/off ------
    dim = (
        spark.range(N_KEYS)
        .select(F.col("id").alias("key"), (F.col("id") * 2).alias("weight"))
        .persist()
    )
    dim.count()

    # Force a genuine shuffle join: without this AQE runtime-converts
    # the hinted SMJ to broadcast (10k-row dim) and there is no skewed
    # reduce side to split at all.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")

    def smj_join():
        joined = fact.join(dim.hint("shuffle_merge"), "key")
        return joined.agg(F.count(F.lit(1))).first()[0]

    for skew_on in ("true", "false"):
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", skew_on)
        # make the planted skew visible to AQE's thresholds at local scale
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8m"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
        smj_join()  # warm
        print(json.dumps(timed(f"smj_skew_aqe_{skew_on}", smj_join)))
    # -- experiment 3: explicit salt-replicate join (operators/skew.py) --
    # vs the plain forced-SMJ join above, AQE skew split OFF — the
    # deterministic mitigation you reach for when you can't rely on AQE
    # (or need stable task sizes). Result must equal the plain join.
    from proto_to_avro_ql_spark.operators.skew import salted_join

    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")

    def salted():
        joined = salted_join(fact, dim, "key", salt_buckets=16)
        return joined.agg(F.count(F.lit(1))).first()[0]

    salted()  # warm
    r_salted = timed("salted_join_16", salted)
    print(json.dumps(r_salted))
    assert r_salted["result"] == smj_join(), "salted join result mismatch"

    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")

    fact.unpersist()
    dim.unpersist()

    # -- experiment 4: containment hot-shingle, max_df on/off -------------
    # (round-5 verdict #8: planted-skew case for the r5-verified
    # containment family). Plant a 32-token boilerplate paragraph into
    # 60% of documents: its ~30 shingles each hit ~3000 docs, so with
    # suppression OFF the inverted-index self-join must produce
    # ~30 × 3000²/2 ≈ 135M candidate rows from the hot blocks alone;
    # the default max_df=100 suppresses them before the join.
    # CALIBRATION (measured here): the suppression's own df-count +
    # anti-join stages cost ~0.5 s of fixed overhead at this corpus
    # size, and the local[32] join chews ~13M candidate rows/s — so
    # max_df only pays for itself once hot blocks exceed ~10^7
    # candidate pairs (10%/25% planted versions of this experiment
    # were FASTER unsuppressed). At 100 TB every boilerplate shingle
    # is far past that line; the 60% plant puts the local experiment
    # on the same side of it.
    from proto_to_avro_ql_spark.operators.dedup import containment_pairs

    boiler = " ".join(f"boiler{i}" for i in range(32))
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.pmod("doc_id", F.lit(5)) < 3, F.concat_ws(" ", "text", F.lit(boiler)))
        .otherwise(F.col("text"))
        .alias("text"),
    )

    def containment(max_df: int):
        def run():
            return containment_pairs(docs, max_df=max_df).count()
        return run

    results = {}
    for label, max_df in [
        ("containment_maxdf_100", 100),
        ("containment_maxdf_off", 1 << 30),
    ]:
        fn = containment(max_df)
        spark.catalog.clearCache()  # containment persists shingles internally
        fn()  # warm (JIT/codegen) — cleared again so the timed run is cold
        spark.catalog.clearCache()
        results[label] = timed(label, fn)
        print(json.dumps(results[label]))
    assert (
        results["containment_maxdf_100"]["wall_s"]
        < results["containment_maxdf_off"]["wall_s"]
    ), "max_df suppression should beat the unsuppressed hot-shingle join"
    spark.catalog.clearCache()

    # -- experiment 5: semdedup hot semantic cell, salt 1 vs 8 ------------
    # Replicate embeddings ×5 (distinct ids, same vectors) and send 50%
    # of rows to ONE cell: the hot cell holds ~5k vectors ≈ 12.5M
    # in-cell pairs. SALT=1 computes them in ONE task; SALT=8 (the
    # module default) splits the probe side across 8 tasks (build side
    # replicated ×8) — the deterministic spread for hot/low-cardinality
    # cell sets. The salt is a module constant, patched per variant.
    from proto_to_avro_ql_spark.operators import simsearch as SS

    emb = (
        read_table(spark, sf_dir, "embeddings")
        .withColumn("_r", F.explode(F.sequence(F.lit(0), F.lit(4))))
        .select(
            (F.col("vec_id") * 5 + F.col("_r")).alias("vec_id"),
            "embedding",
            F.when(F.pmod(F.col("vec_id") * 5 + F.col("_r"), F.lit(2)) == 0, F.lit(0))
            .otherwise(F.pmod(F.col("vec_id"), F.lit(50)) + 1)
            .alias("label"),
        )
        .persist()
    )
    n_emb = emb.count()
    print(f"# embeddings: {n_emb} (50% in the hot cell)", file=sys.stderr)

    def semdedup(salt: int):
        def run():
            saved, SS.SALT = SS.SALT, salt
            try:
                return SS.semantic_dedup_cells(emb).count()
            finally:
                SS.SALT = saved
        return run

    # warm BOTH variants (r6 ADVICE): salt=1 and salt=8 have different
    # explode widths and therefore different codegen — warming only
    # salt=8 left salt=1 paying whole-stage codegen inside its timed
    # run (and JIT warmed during r1 helped r8), both biases pushing in
    # the direction the r8 < r1 assert expects. Mirror experiment 4's
    # per-variant warm pass so the salting win is measured clean.
    semdedup(1)()
    semdedup(8)()
    r1 = timed("semdedup_hot_cell_salt1", semdedup(1))
    r8 = timed("semdedup_hot_cell_salt8", semdedup(8))
    print(json.dumps(r1))
    print(json.dumps(r8))
    assert r1["result"] == r8["result"], "salt must not change survivors"
    assert r8["wall_s"] < r1["wall_s"], (
        "salt-replicate should spread the hot cell across tasks"
    )
    emb.unpersist()

    # -- experiment 6: psm caliper 1-NN, ALL orders in one hot band ------
    # (r6 verdict next-round #6). ext_psm_match's one shuffle key is
    # the caliper band; the adversarial input is every order in ONE
    # band — the whole match lands in a single window partition. The
    # structural mitigation is the two-edge-window design: within a
    # band the 1-NN is a sort + two O(n) running frames, NOT the
    # treated×control candidate join a naive matcher runs. Both are
    # timed on the same planted single-band table and must agree
    # exactly (n_matched, sums, ATT) — with 10k×10k in-band pairs the
    # quadratic candidate relation is ~100M rows while the edge
    # windows sort 20k.
    import tempfile as _tf

    from proto_to_avro_ql_spark.entry_queries import QUERIES

    n_orders = 20_000
    psm_dir = _tf.mkdtemp(prefix="skew_psm_")
    spark.range(n_orders).select(
        F.col("id").alias("o_orderkey"),
        F.col("id").alias("o_custkey"),  # parity → 50/50 treated/control
        # all prices < $10k → every order in caliper band 0
        ((F.pmod(F.col("id") * 7919, F.lit(9000))).cast("double") + 0.25).alias(
            "o_totalprice"
        ),
        F.when(F.pmod("id", F.lit(3)) == 0, F.lit("F"))
        .otherwise(F.lit("O"))
        .alias("o_orderstatus"),
        F.lit("1995-01-01").alias("o_orderdate"),
        F.lit("1-URGENT").alias("o_orderpriority"),
        F.lit("c").alias("o_clerk"),
        F.lit(0).alias("o_shippriority"),
        F.lit("x").alias("o_comment"),
    ).write.mode("overwrite").parquet(os.path.join(psm_dir, "orders.parquet"))

    def psm_edge_windows():
        return tuple(
            QUERIES["ext_psm_match"](spark, psm_dir)
            .select("band", "n_treated", "n_matched", "sum_yt", "sum_yc")
            .collect()[0]
        )

    def psm_quadratic():
        # the naive matcher: band-equi-join every treated order to
        # every in-band control, rank by (distance, lower-side
        # tie-break) — same semantics, quadratic candidate relation
        s = (
            read_table(spark, psm_dir, "orders")
            .select(
                F.col("o_orderkey").alias("okey"),
                (F.col("o_custkey") % 2).cast("bigint").alias("treated"),
                (F.col("o_totalprice").cast("decimal(38,2)") * 100)
                .cast("bigint")
                .alias("cents"),
                F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
            )
            .withColumn("band", F.expr("cents DIV 1000000"))
        )
        t = s.where(F.col("treated") == 1).select("band", "okey", "cents", "y")
        rep = (
            s.where(F.col("treated") == 0)
            .groupBy("band", "cents")
            .agg(F.min_by("y", "okey").alias("yc"))
            .select(
                F.col("band").alias("r_band"),
                F.col("cents").alias("r_cents"),
                "yc",
            )
        )
        cand = t.join(rep, F.col("r_band") == F.col("band"))
        wnn = Window.partitionBy("okey").orderBy(
            F.abs(F.col("r_cents") - F.col("cents")), F.col("r_cents")
        )
        best = (
            cand.withColumn("rn", F.row_number().over(wnn))
            .where(F.col("rn") == 1)
            .select("band", "y", "yc")
        )
        agg = best.groupBy("band").agg(
            F.count(F.lit(1)).alias("n_treated"),
            F.count("yc").alias("n_matched"),
            F.sum("y").cast("bigint").alias("sum_yt"),
            F.sum("yc").cast("bigint").alias("sum_yc"),
        )
        return tuple(agg.collect()[0])

    psm_edge_windows()  # warm per variant (codegen differs)
    psm_quadratic()
    r_edge = timed("psm_hot_band_edge_windows", psm_edge_windows)
    r_quad = timed("psm_hot_band_quadratic_join", psm_quadratic)
    r_edge["result"], r_quad["result"] = (
        list(r_edge["result"]),
        list(r_quad["result"]),
    )
    print(json.dumps(r_edge))
    print(json.dumps(r_quad))
    assert r_edge["result"] == r_quad["result"], (
        "edge-window matching must equal the quadratic matcher exactly: "
        f"{r_edge['result']} vs {r_quad['result']}"
    )
    assert r_edge["wall_s"] < r_quad["wall_s"], (
        "the sort + running-frame design should beat the quadratic "
        "candidate join on a hot band"
    )

    # -- experiment 7: sessionize, ONE user holding 50% of all events ----
    # (r6 verdict next-round #6). sessionize's shuffle key is user_id;
    # the adversarial input routes half the stream to one user. Two
    # keyed mitigations are structural and asserted here: (a) both
    # window passes share ONE exchange+sort (exactly one hash
    # exchange in the physical plan, hot input or not), and (b) both
    # frames are RUNNING frames — O(n) per partition — so growing the
    # hot partition 4× must cost ~4×, not the ~16× a per-row-rescan
    # frame would (the ext_psm_match UnboundedFollowing lesson,
    # SCALE.md). The 3× slack on the assert absorbs local jitter.
    from proto_to_avro_ql_spark.operators.windows import sessionize

    def hot_events(replicate: int) -> DataFrame:
        ev = read_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "ts"
        )
        rep = ev.withColumn(
            "_r", F.explode(F.sequence(F.lit(0), F.lit(replicate - 1)))
        )
        return rep.select(
            (F.col("event_id") * replicate + F.col("_r")).alias("event_id"),
            F.when(F.pmod("event_id", F.lit(2)) == 0, F.lit(0))
            .otherwise(F.col("user_id"))
            .alias("user_id"),
            F.timestamp_seconds(
                F.unix_timestamp("ts") + F.col("_r") * 17
            ).alias("ts"),
        )

    plan = sessionize(hot_events(2))._jdf.queryExecution().executedPlan().toString()
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, (
        f"sessionize must plan ONE shared exchange for both window "
        f"passes, got {n_exchanges}"
    )

    def run_sessionize(replicate: int):
        df = hot_events(replicate)

        def run():
            return int(
                sessionize(df).agg(F.sum("session_seq")).first()[0]
            )
        return run

    run_sessionize(2)()  # warm both sizes
    run_sessionize(8)()
    r_s2 = timed("sessionize_hot_user_x2", run_sessionize(2))
    r_s8 = timed("sessionize_hot_user_x8", run_sessionize(8))
    print(json.dumps(r_s2))
    print(json.dumps(r_s8))
    assert r_s8["wall_s"] < 12 * r_s2["wall_s"], (
        "running-frame sessionization should scale ~linearly in the hot "
        f"partition (4× rows): {r_s2['wall_s']} -> {r_s8['wall_s']}"
    )

    # -- experiment 8: triangle count, celebrity hub holding 50% of edges -
    # (r7 verdict next-round #3). The graph family's claimed skew
    # mitigation is DEGREE ORIENTATION (graphs.py orient_by_degree): a
    # hub's raw neighborhood is unbounded, its oriented out-neighborhood
    # is ≤ sqrt(2m). Plant the adversarial input — ONE celebrity node
    # with 32k spokes holding 50% of all edges — on a graph whose exact
    # triangle count is closed-form, and time three formulations that
    # must all return it:
    #   wedgejoin_id (naive)  — the oracle's wedge self-join under
    #     lowest-id orientation; the hub is id 0, so out(hub) = 32k and
    #     the join emits C(32k,2) ≈ 512M wedge rows, ALL in the s=0
    #     partition (one task — the skew collapse being measured);
    #   wedgejoin_degree      — the SAME self-join under degree
    #     orientation: only the orientation changes, out(hub) drops to
    #     0, max out-degree on this graph is ~3, wedge relation ~m;
    #   shipped (intersect)   — the ext_triangle_count entry's plan:
    #     degree orientation + sorted-array adjacency intersection (no
    #     wedge materialization at all; wins once Σ out-deg² >> m, r3
    #     measured 9.6 s vs 1.6 s on the sf0.1 co-purchase build).
    # Spokes are pair-linked (spoke 2i-1 — spoke 2i), so the hub closes
    # 16k triangles THROUGH itself — the orientation must still count
    # every hub triangle while never fanning the hub's wedges out.
    from proto_to_avro_ql_spark.operators.graphs import (
        node_degrees,
        orient_by_degree,
    )

    hub_spokes = 32_000
    n_bg_tri = 5_000
    hub_e = spark.range(1, hub_spokes + 1).select(
        F.lit(0).cast("bigint").alias("u"), F.col("id").alias("v")
    )
    pair_e = spark.range(1, hub_spokes // 2 + 1).select(
        (F.col("id") * 2 - 1).alias("u"), (F.col("id") * 2).alias("v")
    )
    tri_base = F.lit(1_000_000) + F.col("id") * 3
    bg_e = (
        spark.range(n_bg_tri)
        .select(
            F.explode(
                F.array(
                    F.struct(tri_base.alias("u"), (tri_base + 1).alias("v")),
                    F.struct(tri_base.alias("u"), (tri_base + 2).alias("v")),
                    F.struct(
                        (tri_base + 1).alias("u"), (tri_base + 2).alias("v")
                    ),
                )
            ).alias("e")
        )
        .select("e.u", "e.v")
    )
    g_edges = hub_e.unionAll(pair_e).unionAll(bg_e).persist()
    m_edges = g_edges.count()
    tri_expected = hub_spokes // 2 + n_bg_tri
    print(
        f"# hub graph: {m_edges} edges, hub holds {hub_spokes / m_edges:.0%},"
        f" closed-form triangles {tri_expected}",
        file=sys.stderr,
    )
    e_deg = orient_by_degree(g_edges, node_degrees(g_edges)).persist()
    e_deg.count()
    e_id = g_edges.select(F.col("u").alias("s"), F.col("v").alias("t")).persist()
    e_id.count()

    def tri_intersect(e):
        def run():
            adj = e.groupBy("s").agg(
                F.sort_array(F.collect_list("t")).alias("nbrs")
            )
            au = adj.select(F.col("s").alias("u_key"), F.col("nbrs").alias("nu"))
            av = adj.select(F.col("s").alias("v_key"), F.col("nbrs").alias("nv"))
            return (
                e.join(au, F.col("s") == F.col("u_key"))
                .join(av, F.col("t") == F.col("v_key"))
                .select(F.size(F.array_intersect("nu", "nv")).alias("k"))
                .agg(F.coalesce(F.sum("k"), F.lit(0)).cast("long"))
                .first()[0]
            )

        return run

    def tri_wedge(e, ranked: bool):
        def run():
            w1, w2 = e.alias("w1"), e.alias("w2")
            closing = e.select(F.col("s").alias("cs"), F.col("t").alias("ct"))
            if ranked:  # degree orientation carries the (dt, t) rank
                order = (F.col("w1.dt") < F.col("w2.dt")) | (
                    (F.col("w1.dt") == F.col("w2.dt"))
                    & (F.col("w1.t") < F.col("w2.t"))
                )
            else:  # id orientation: rank IS the id
                order = F.col("w1.t") < F.col("w2.t")
            return (
                w1.join(w2, (F.col("w1.s") == F.col("w2.s")) & order)
                .join(
                    closing,
                    (F.col("cs") == F.col("w1.t"))
                    & (F.col("ct") == F.col("w2.t")),
                )
                .agg(F.count(F.lit(1)))
                .first()[0]
            )

        return run

    tri_results = {}
    for label, fn, warm in [
        ("tri_hub_shipped_intersect", tri_intersect(e_deg), True),
        ("tri_hub_wedgejoin_degree", tri_wedge(e_deg, True), True),
        # no warm pass for the naive variant: it is a one-task ~40 s
        # 512M-wedge join where codegen warmup is marginal, and running
        # it twice doubles the experiment's dominant cost.
        ("tri_hub_wedgejoin_id_naive", tri_wedge(e_id, False), False),
    ]:
        if warm:
            fn()  # warm per variant (codegen differs)
        tri_results[label] = timed(label, fn)
        print(json.dumps(tri_results[label]))
        assert tri_results[label]["result"] == tri_expected, (
            f"{label} must hit the closed-form triangle count: "
            f"{tri_results[label]['result']} vs {tri_expected}"
        )
    # Measured margins are 60-134x; assert with a 2x slack factor (not
    # strict <) so the documented 15-20% host drift / >100% per-query
    # tails can never flip a single-pass timing comparison, and log the
    # ratios so the actual margin stays visible in the output.
    naive_w = tri_results["tri_hub_wedgejoin_id_naive"]["wall_s"]
    for label in ("tri_hub_shipped_intersect", "tri_hub_wedgejoin_degree"):
        ratio = naive_w / max(tri_results[label]["wall_s"], 1e-9)
        print(
            json.dumps({"metric": f"{label}_speedup_vs_naive", "ratio": round(ratio, 1)}),
            file=sys.stderr,
        )
        assert 2.0 * tri_results[label]["wall_s"] < naive_w, (
            f"{label} must beat the naive id wedge-join by >=2x "
            f"(got {ratio:.1f}x; margins were 60-134x when planted — a "
            f"collapse below 2x is a real plan regression, not host noise)"
        )
    g_edges.unpersist()
    e_deg.unpersist()
    e_id.unpersist()


if __name__ == "__main__":
    main()
