from __future__ import annotations

import pytest

from proto_to_avro_ql_spark.operators import clustering as CL
from proto_to_avro_ql_spark.operators.clustering import (
    connected_components,
    kcore_nodes,
)


class TestConnectedComponents:
    def test_chain_collapses_to_one_cluster(self, spark, monkeypatch):
        # 1-2, 2-3, 3-4 chain plus isolated pair 10-11
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
        )
        out = {r.id: r.cluster_id for r in connected_components(pairs).collect()}
        assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}
        # the distributed star-contraction path (forced past the
        # local-tail cutoff) must agree exactly
        monkeypatch.setattr(CL, "LOCAL_CUTOFF", 0)
        dist = {r.id: r.cluster_id for r in connected_components(pairs).collect()}
        assert dist == out


class TestStarContraction:
    def test_long_path_converges_in_log_rounds(self, spark, monkeypatch):
        # a 200-edge path must collapse within the default 12
        # alternating star rounds; a zero cutoff forces the DISTRIBUTED
        # rounds (the default would route this graph through the local
        # union-find)
        monkeypatch.setattr(CL, "LOCAL_CUTOFF", 0)
        path = spark.createDataFrame(
            [(i, i + 1) for i in range(200)], "id_a long, id_b long"
        )
        out = connected_components(path).collect()
        assert len(out) == 201
        assert all(r.cluster_id == 0 for r in out)


class TestGraphEdgeCases:
    def test_star_contraction_empty_and_selfloop_only(self, spark):
        empty = spark.createDataFrame([], "id_a long, id_b long")
        assert connected_components(empty).count() == 0
        loops = spark.createDataFrame([(7, 7), (9, 9)], "id_a long, id_b long")
        out = {(r.id, r.cluster_id) for r in connected_components(loops).collect()}
        assert out == {(7, 7), (9, 9)}

    def test_kcore_empty_and_subcritical(self, spark):
        empty = spark.createDataFrame([], "id_a long, id_b long")
        assert kcore_nodes(empty, k=3).count() == 0
        # a path has max degree 2: the 3-core must be empty
        path = spark.createDataFrame(
            [(i, i + 1) for i in range(10)], "id_a long, id_b long"
        )
        assert kcore_nodes(path, k=3).count() == 0


class TestBoundedCollectContract:
    """The local tail COLLECTS up to LOCAL_CUTOFF edge rows and runs to
    the exact fixpoint whatever the distributed round cap."""

    def test_local_tail_is_exact_beyond_round_cap(self, spark, monkeypatch):
        """A 7-node path graph needs 3 star rounds; with a cap of 1 the
        local tail still collapses it to one cluster."""
        from pyspark.sql import functions as F

        monkeypatch.setattr(CL, "CC_MAX_ROUNDS", 1)
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(6)], "id_a long, id_b long"
        )
        out = connected_components(pairs)  # local tail engages
        assert out.select(F.countDistinct("cluster_id")).collect()[0][0] == 1


class TestEdgeBuildProperty:
    """Round-6: the collect_set-on-raw edge build (one fewer exchange)
    must equal the distinct-baskets + collect_list build on ANY input,
    including orders with repeated parts and single-part orders."""

    def test_random_baskets_equivalence(self, spark, tmp_path):
        import random

        from pyspark.sql import functions as F

        from proto_to_avro_ql_spark.operators.graphs import copurchase_edges

        rng = random.Random(42)
        rows = []
        for ok in range(200):
            n = rng.randint(1, 8)
            parts = [rng.randint(1, 40) for _ in range(n)]
            parts += parts[: rng.randint(0, 2)]  # duplicates within order
            rows += [(ok, pk) for pk in parts]
        # stage as a parquet 'lineitem' table so both paths read the
        # same raw relation through read_table
        sf_dir = str(tmp_path)
        spark.createDataFrame(
            rows, "l_orderkey long, l_partkey long"
        ).write.parquet(f"{sf_dir}/lineitem.parquet")

        for ms in (1, 2, 3):
            raw = sorted(
                map(tuple, copurchase_edges(spark, sf_dir, min_support=ms).collect())
            )
            via = sorted(
                map(
                    tuple,
                    copurchase_edges(
                        spark,
                        sf_dir,
                        min_support=ms,
                        baskets=spark.read.parquet(f"{sf_dir}/lineitem.parquet")
                        .select(
                            F.col("l_orderkey").alias("ok"),
                            F.col("l_partkey").alias("pk"),
                        )
                        .distinct(),
                    ).collect(),
                )
            )
            assert raw == via, f"min_support={ms}"
            # u < v invariant holds on every edge
            assert all(u < v for u, v in raw), f"min_support={ms}"


class TestRoundCapContract:
    """Every path returns the exact fixpoint or raises loudly when the
    round cap ends first, so the exact transitive-closure oracles
    match whatever the engine returns, on any graph. A zero
    LOCAL_CUTOFF forces the distributed loops; the caps are lowered
    by patching the module constants."""

    def _path(self, spark, n):
        return spark.createDataFrame(
            [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
        )

    def _distributed(self, monkeypatch, **caps):
        monkeypatch.setattr(CL, "LOCAL_CUTOFF", 0)
        for name, cap in caps.items():
            monkeypatch.setattr(CL, name, cap)

    def test_cc_distributed_raises_on_non_convergence(self, spark, monkeypatch):
        import pytest as _pytest

        # 40-node path: star contraction needs 6 rounds; cap 3.
        self._distributed(monkeypatch, CC_MAX_ROUNDS=3)
        with _pytest.raises(ValueError, match="CC_MAX_ROUNDS=3 exhausted"):
            connected_components(self._path(spark, 40)).collect()

    def test_cc_converged_exactly_at_cap_does_not_false_raise(
        self, spark, monkeypatch
    ):
        """A 7-node path reaches the star fixpoint in round 3 (a cap of
        2 raises) — with a cap of 3 the loop exhausts WITHOUT the
        checksum compare confirming; the probe round must prove
        convergence instead of raising."""
        from pyspark.sql import functions as F

        self._distributed(monkeypatch, CC_MAX_ROUNDS=3)
        out = connected_components(self._path(spark, 7))
        assert out.select(F.countDistinct("cluster_id")).collect()[0][0] == 1

    def test_star_distributed_raises_on_non_convergence(self, spark, monkeypatch):
        import pytest as _pytest

        self._distributed(monkeypatch, CC_MAX_ROUNDS=1)
        with _pytest.raises(ValueError, match="CC_MAX_ROUNDS=1 exhausted"):
            connected_components(self._path(spark, 64)).collect()

    def test_kcore_distributed_raises_on_non_convergence(self, spark, monkeypatch):
        import pytest as _pytest

        # 2-core peel of a path removes endpoints each round — a
        # 12-node path needs ~6 rounds; cap 1, distributed forced.
        self._distributed(monkeypatch, KCORE_MAX_ROUNDS=1)
        with _pytest.raises(ValueError, match="KCORE_MAX_ROUNDS=1 exhausted"):
            kcore_nodes(self._path(spark, 12), k=2).collect()

    def test_kcore_fixpoint_at_cap_does_not_false_raise(self, spark, monkeypatch):
        # a 4-cycle IS its own 2-core: one round confirms no removal
        self._distributed(monkeypatch, KCORE_MAX_ROUNDS=1)
        cyc = spark.createDataFrame(
            [(0, 1), (1, 2), (2, 3), (3, 0)], "id_a long, id_b long"
        )
        out = kcore_nodes(cyc, k=2)
        assert sorted((r["id"], r["core_degree"]) for r in out.collect()) == [
            (0, 2), (1, 2), (2, 2), (3, 2)
        ]

    def test_cc_zero_cap_fixpoint_confirmed_by_probe(self, spark, monkeypatch):
        """A self-loop-only graph is at the fixpoint from the start (its
        oriented edge set is empty), so a zero round cap must return
        exact self-clusters, confirmed against the pre-loop checksum,
        not raise."""
        self._distributed(monkeypatch, CC_MAX_ROUNDS=0)
        loops = spark.createDataFrame(
            [(i, i) for i in range(6)], "id_a long, id_b long"
        )
        out = connected_components(loops)
        assert sorted((r["id"], r["cluster_id"]) for r in out.collect()) == [
            (i, i) for i in range(6)
        ]

    def test_kcore_in_loop_convergence_with_spare_rounds_stays_exact(
        self, spark, monkeypatch
    ):
        """When the loop confirms the fixpoint in-loop (n_cur == n_prev
        with rounds to spare), the confirmation probe is skipped — the
        converged distributed path must still return the exact core."""
        self._distributed(monkeypatch, KCORE_MAX_ROUNDS=8)
        cyc = spark.createDataFrame(
            [(0, 1), (1, 2), (2, 3), (3, 0)], "id_a long, id_b long"
        )
        out = kcore_nodes(cyc, k=2)
        assert sorted((r["id"], r["core_degree"]) for r in out.collect()) == [
            (0, 2), (1, 2), (2, 2), (3, 2)
        ]

    def test_sub_cutoff_graph_needing_many_rounds_is_green_by_default(
        self, spark, monkeypatch
    ):
        """A sub-cutoff graph whose fixpoint needs more rounds than the
        cap is exact with DEFAULT arguments, and agrees with the
        transitive-closure oracle."""
        import duckdb

        from proto_to_avro_ql_spark.operators.clustering import (
            connected_components_sql,
        )

        monkeypatch.setattr(CL, "CC_MAX_ROUNDS", 3)  # the path needs 6
        n = 40
        out = connected_components(self._path(spark, n))
        got = {(r["id"], r["cluster_id"]) for r in out.collect()}
        assert got == {(i, 0) for i in range(n)}
        # the DuckDB twin over the same pairs
        want = duckdb.sql(
            f"""WITH RECURSIVE e AS (
                  SELECT i AS a, i + 1 AS b FROM range({n - 1}) t(i)
                ), {connected_components_sql("e", "a", "b")}
                SELECT id, cluster_id FROM clusters"""
        ).fetchall()
        assert {(int(a), int(b)) for a, b in want} == {
            (i, 0) for i in range(n)
        }

    def test_star_fixpoint_at_cap_does_not_false_raise(self, spark, monkeypatch):
        """A 3-node path contracts to a star IN the single allowed
        round; the checksum compare can't confirm it in-loop (the
        round changed the edge set), so the probe must prove
        convergence and return exact labels instead of raising."""
        self._distributed(monkeypatch, CC_MAX_ROUNDS=1)
        pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
        out = connected_components(pairs).collect()
        assert sorted((r["id"], r["cluster_id"]) for r in out) == [
            (1, 1), (2, 1), (3, 1)
        ]


class TestArrowRoundTrip:
    """Every driver-side tail crosses the JVM boundary once each way
    through Arrow: ``local_rows`` sizes and collects its input in one
    ``toArrow()`` action, ``local_frame`` returns the result as one
    Arrow table (a LocalTableScan leaf)."""

    def test_local_rows_at_the_cutoff(self, spark, monkeypatch):
        monkeypatch.setattr(CL, "LOCAL_CUTOFF", 5)
        rows = [(i, str(i)) for i in range(6)]
        five = CL.local_rows(spark.createDataFrame(rows[:5], "k long, s string"))
        assert five is not None and five.num_rows == 5
        assert sorted(CL.table_rows(five)) == rows[:5]
        assert CL.local_rows(spark.createDataFrame(rows, "k long, s string")) is None

    def test_local_rows_runs_no_incremental_take(self, spark):
        """On a relation whose final stage has 4 partitions, ``collect()``
        of the limit runs Spark's incremental take: a first job one
        task wide, then a second over the other partitions. The Arrow
        collect runs the stage at full width in one job, so no job
        that ``local_rows`` launches runs exactly one task."""
        import time

        sc = spark.sparkContext
        df = spark.createDataFrame(
            sc.parallelize([(i % 97, i) for i in range(4000)], 4), "k long, v long"
        ).where("v >= 0")
        group = "local_rows_no_incremental_take"
        sc.setJobGroup(group, group)
        try:
            table = CL.local_rows(df)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert table is not None and table.num_rows == 4000
        tracker = sc.statusTracker()
        deadline = time.monotonic() + 30
        while True:  # the status store is fed by the async listener bus
            jobs = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(group)]
            if jobs and all(j and j.status == "SUCCEEDED" for j in jobs):
                break
            assert time.monotonic() < deadline, jobs
            time.sleep(0.05)
        ran = [
            sum(tracker.getStageInfo(s).numCompletedTasks for s in j.stageIds)
            for j in jobs
        ]
        assert ran and 1 not in ran, ran
        assert sum(ran) >= 4, ran

    KEYS = {
        "long": [10**12 + i for i in range(10)],
        "int": [7 - i for i in range(10)],
        "string": [f"n{i:02d}" for i in (5, 3, 9, 0, 1, 8, 2, 7, 4, 6)],
    }
    EDGES = [(0, 1), (1, 2), (3, 4), (4, 4), (5, 3), (6, 7), (7, 8), (8, 6), (6, 9),
             (2, 0), (9, 7)]

    def _local_and_distributed(self, monkeypatch, build):
        local = build()
        with monkeypatch.context() as m:
            m.setattr(CL, "LOCAL_CUTOFF", 0)
            dist = build()
        assert local.schema == dist.schema
        assert sorted(map(tuple, local.collect())) == sorted(
            map(tuple, dist.collect())
        )
        return local

    @pytest.mark.parametrize("key_type", ["long", "int", "string"])
    @pytest.mark.parametrize("empty", [False, True])
    def test_local_equals_distributed(self, spark, monkeypatch, key_type, empty):
        from pyspark.sql import functions as F

        from proto_to_avro_ql_spark.operators import graphs as GR

        keys = self.KEYS[key_type]
        edges = [] if empty else [(keys[a], keys[b]) for a, b in self.EDGES]
        pairs = spark.createDataFrame(edges, f"id_a {key_type}, id_b {key_type}")
        cc = self._local_and_distributed(
            monkeypatch, lambda: connected_components(pairs, cast=None)
        )
        assert cc.schema["id"].dataType == pairs.schema["id_a"].dataType
        uv = pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        lpa = self._local_and_distributed(
            monkeypatch, lambda: GR.label_propagation(uv, 2)
        )
        assert lpa.schema["node"].dataType == pairs.schema["id_a"].dataType
        if key_type != "string":
            self._local_and_distributed(monkeypatch, lambda: kcore_nodes(pairs, k=2))
        if not empty:
            assert cc.count() == 10 and lpa.count() == 10
