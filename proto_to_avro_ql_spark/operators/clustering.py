"""Duplicate-cluster resolution: near-dup PAIRS → CLUSTERS (connected
components), and k-core graph curation.

The pair-producing operators (operators/dedup.py) emit edges; choosing
one representative per duplicate *cluster* requires the transitive
closure. ``connected_components`` labels every node with the min node
id reachable through the pair graph: an exact local union-find up to
``LOCAL_CUTOFF`` edges, alternating large-star/small-star contraction
(O(log n) distributed rounds) above it. ``connected_components_sql``
renders the same closure as a DuckDB recursive CTE for the oracles.

Every driver-side tail in the package (the union-find and k-core
peel here, label propagation in graphs.py, BPE training in the
registry) crosses the JVM boundary once each way through Arrow:
``local_rows`` sizes and collects its input, ``local_frame`` hands
its result back as a ``LocalTableScan`` leaf.

Labels are the node keys, edges live in the shuffle — never the
document text. The distributed loops reach the exact fixpoint within
their round cap (``CC_MAX_ROUNDS``, ``KCORE_MAX_ROUNDS``) or raise.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructField, StructType

# Inputs with at most this many rows run on the driver (see
# ``local_rows``): the collected edge or word list is a few fields per
# row, a few MB. On such an input every distributed round is pure job
# scheduling, while the whole local loop takes milliseconds. It is the
# only threshold: patching it to 0 forces every distributed path.
LOCAL_CUTOFF = 200_000
CC_MAX_ROUNDS = 12
KCORE_MAX_ROUNDS = 16


def local_rows(df: DataFrame) -> pa.Table | None:
    """The rows of ``df`` as one Arrow table when it holds at most
    ``LOCAL_CUTOFF`` rows, else ``None``: the one size guard in front
    of every driver-side tail (connected components, k-core, BPE
    training, label propagation). One ``limit(cutoff + 1).toArrow()``
    both sizes and collects, so a small input is read once and a large
    one stops after ``cutoff + 1`` rows. The limited plan runs as one
    job whose final stage keeps its full width, where ``collect()``
    would run Spark's incremental take (one serial job per batch of
    partitions, the first one task wide), and the rows cross to the
    driver as Arrow batches instead of pickled Rows."""
    table = df.limit(LOCAL_CUTOFF + 1).toArrow()
    return table if table.num_rows <= LOCAL_CUTOFF else None


def local_frame(spark, schema: StructType | str, columns) -> DataFrame:
    """A driver-side tail's result as a DataFrame: ``columns`` holds one
    sequence (list or numpy array) per field of ``schema`` (a
    StructType or DDL string). The columns become one Arrow table
    typed from the Spark schema, so long, int and string keys
    round-trip exactly; it crosses to the JVM in one call and plans as
    a ``LocalTableScan`` leaf."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)


def table_rows(table: pa.Table):
    """The rows of a collected Arrow table, as tuples of Python values."""
    return zip(*(c.to_pylist() for c in table.columns))


def _round_cap_error(algo: str, cap_name: str, cap: int) -> ValueError:
    return ValueError(
        f"{algo}: round cap {cap_name}={cap} exhausted before the "
        "fixpoint — the capped answer would be coarser than the exact one"
    )


def local_components(spark, edges, id_type) -> DataFrame:
    """Exact min-label connected components of a collected ``(u, v)``
    pair iterable via union-find (path compression, min-root-wins
    union, so every final root is its component's minimum id); one row
    per node seen, in first-seen order. Comparison semantics match the
    distributed plan: Python's ``<`` on ints is Spark's long order, and
    on strings it is code-point order == Spark's binary UTF-8 order."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    seen = []
    seen_set = set()
    for u, v in edges:
        for n in (u, v):
            if n not in seen_set:
                seen_set.add(n)
                seen.append(n)
        ru, rv = find(u), find(v)
        if ru == rv:
            continue
        lo, hi = (ru, rv) if ru < rv else (rv, ru)
        parent[hi] = lo

    schema = StructType(
        [StructField("id", id_type, True), StructField("cluster_id", id_type, True)]
    )
    return local_frame(spark, schema, [seen, [find(n) for n in seen]])


def _edge_metrics() -> list:
    # (count, order-free hash sum) of an oriented edge relation: equal
    # on two consecutive rounds means no edge moved
    return [
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")), F.lit(0)
        ).alias("s"),
    ]


def _edge_checksum(e: DataFrame) -> tuple[int, int]:
    row = e.agg(*_edge_metrics()).collect()[0]
    return int(row["n"]), int(row["s"])


def _star_round(edges: DataFrame) -> DataFrame:
    """One large-star + small-star round over oriented edges (u > v).
    Each star step is ONE center-keyed window min: the per-center
    minimum rides every row in the same shuffle, no groupBy relation
    to join back."""
    wu = Window.partitionBy("u")
    # large-star: center every node u over its FULL neighborhood; hook
    # each larger neighbor v > u onto m = min(N(u) ∪ {u}).
    sym = edges.unionAll(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    large = (
        sym.withColumn("m", F.min(F.least("v", "u")).over(wu))
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    # small-star: per center u with smaller neighbors {v}, m = min;
    # connect u and every other smaller neighbor to m.
    return (
        large.withColumn("m", F.min("v").over(wu))
        .select(
            F.when(F.col("v") == F.col("m"), F.col("u")).otherwise(F.col("v")).alias("u"),
            F.col("m").alias("v"),
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def connected_components(pairs: DataFrame, cast: str | None = "long") -> DataFrame:
    """pairs(id_a, id_b) → (id, cluster_id) where cluster_id is the min
    node id reachable through the pair graph. Nodes present in pairs
    only; singletons are their own cluster by construction elsewhere.
    Any totally ordered key type works; ``cast=None`` keeps e.g.
    string entity keys.

    Up to ``LOCAL_CUTOFF`` pairs the closure is an exact local
    union-find on the collected pairs. Larger graphs run the
    alternating large-star / small-star algorithm (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC 2014): the
    alternation collapses each component into a star around its min in
    O(log n) rounds. Edges stay ORIENTED (first > second) between
    rounds, so each round's relation is at most the component-spanning
    forest plus not-yet-hooked edges. Convergence = the edge set's
    (count, hash-sum) is equal two rounds running, observed on the
    round's own materializing action. If ``CC_MAX_ROUNDS`` ends first,
    one unpersisted probe round confirms the fixpoint or the call
    raises."""
    ua = F.col("id_a").cast(cast) if cast else F.col("id_a")
    vb = F.col("id_b").cast(cast) if cast else F.col("id_b")
    # persist the input pairs: above the cutoff the node universe AND
    # the initial edge relation both branch off them (and reuse the
    # partitions the size guard already read) — uncached, an expensive
    # upstream (e.g. the co-purchase self-join) would evaluate twice
    raw = pairs.select(ua.alias("u"), vb.alias("v")).persist()
    # raw (not the oriented distinct relation) is collected so
    # self-loop-only nodes keep their row in the node universe
    table = local_rows(raw)
    if table is not None:
        raw.unpersist()
        return local_components(
            pairs.sparkSession, table_rows(table), raw.schema["u"].dataType
        )
    nodes = raw.select("u").unionAll(raw.select(F.col("v").alias("u"))).distinct()
    edges = (
        raw.where(F.col("u") != F.col("v"))
        .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .distinct()
        .persist()
    )
    prev = _edge_checksum(edges)
    # raw has now been read once (the checksum materialized the oriented
    # edge cache through it); pin the node universe — |V| keys — and
    # release raw so the input pairs' cache doesn't outlive the call
    nodes = nodes.localCheckpoint(eager=True)
    raw.unpersist()
    converged = False
    for rnd in range(CC_MAX_ROUNDS):
        obs = Observation()
        small = _star_round(edges).observe(obs, *_edge_metrics()).persist()
        small.count()  # one action: populates the cache AND the metrics
        got = obs.get
        cur = (int(got["n"]), int(got["s"]))
        if rnd % 2 == 1:
            # lineage truncation every second round reads the
            # just-populated cache, then drops it
            cp = small.localCheckpoint(eager=True)
            small.unpersist()
            small = cp
        edges.unpersist()
        edges = small
        if cur == prev:
            converged = True
            break
        prev = cur
    # the last round may have completed the fixpoint without the
    # checksum compare seeing it: one more round, not persisted, decides
    if not converged and _edge_checksum(_star_round(edges)) != prev:
        edges.unpersist()
        raise _round_cap_error("connected_components", "CC_MAX_ROUNDS", CC_MAX_ROUNDS)

    # fixpoint: every edge is (member, component_min); nodes without a
    # parent edge (roots, self-loop-only nodes) label themselves. The
    # min-aggregate keeps the one-row-per-id contract by construction.
    members = edges.select(F.col("u").alias("id"), F.col("v").alias("cluster_id"))
    return (
        nodes.alias("n")
        .join(members.alias("m"), F.col("n.u") == F.col("m.id"), "left")
        .select(
            F.col("n.u").alias("id"),
            F.coalesce(F.col("m.cluster_id"), F.col("n.u")).alias("cluster_id"),
        )
        .groupBy("id")
        .agg(F.min("cluster_id").alias("cluster_id"))
    )


def connected_components_sql(pairs: str, a: str, b: str) -> str:
    """DuckDB twin of ``connected_components`` over the relation
    ``pairs``(a, b): the CTEs ``sym``, ``nodes``, the recursive ``cc``
    and ``clusters``(id, cluster_id), the min id reachable by
    transitive closure. The enclosing WITH must be RECURSIVE."""
    return f"""sym AS (
      SELECT {a} AS src, {b} AS dst FROM {pairs}
      UNION ALL
      SELECT {b}, {a} FROM {pairs}
    ), nodes AS (
      SELECT DISTINCT src AS id FROM sym
    ), cc(id, lab) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT s.src, cc.lab FROM sym s JOIN cc ON cc.id = s.dst
    ), clusters AS (
      SELECT id, MIN(lab) AS cluster_id FROM cc GROUP BY id
    )"""


def _peel(edges: DataFrame, k: int) -> DataFrame:
    """One k-core peel round: keep the edges whose ends both have
    degree ≥ k (one degree aggregation + two semi-joins)."""
    sym = edges.unionAll(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    keep = (
        sym.groupBy("u")
        .agg(F.count(F.lit(1)).alias("deg"))
        .where(F.col("deg") >= k)
        .select("u")
    )
    return (
        edges.join(keep, "u", "left_semi")
        .join(keep.select(F.col("u").alias("v")), "v", "left_semi")
        .select("u", "v")
    )


def kcore_nodes(pairs: DataFrame, k: int = 3) -> DataFrame:
    """pairs(id_a, id_b) → (id, core_degree): the k-core — the maximal
    subgraph in which every node keeps degree ≥ k — by iterative
    peeling (remove all sub-k nodes, recompute degrees, repeat to
    fixpoint). The graph-curation primitive for spam/bot filtering and
    community seeding: a node's raw degree is gameable, its coreness
    is not (it needs k neighbors who THEMSELVES survive).

    Peeling's cost profile is front-loaded: early rounds drop most of
    the graph, late rounds remove a trickle of edges from an
    already-tiny relation, so their cost is pure job scheduling (the
    r04 sweep inversion: sf0.01 peels 11 rounds and took 3× sf0.1's 3
    rounds). So the loop runs distributed rounds only WHILE the
    relation exceeds ``LOCAL_CUTOFF`` edges, then collects the bounded
    tail with ``local_rows`` and finishes the peel in numpy: a graph
    below the cutoff is sized and collected by one Arrow action, and
    only rounds above it pay a ``count()``. If ``KCORE_MAX_ROUNDS`` ends
    with the relation still above the cutoff, one count-only probe
    peel confirms the fixpoint or the call raises."""
    import numpy as np

    edges = (
        pairs.select(
            F.col("id_a").cast("long").alias("u"), F.col("id_b").cast("long").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .persist()
    )
    spark = pairs.sparkSession
    # one Arrow action sizes the input and, below the cutoff, collects it
    tail = local_rows(edges)
    n_prev = None if tail is not None else edges.count()
    converged = False
    for rnd in range(KCORE_MAX_ROUNDS):
        if tail is not None:
            break
        nxt = _peel(edges, k).persist()
        if rnd % 3 == 2:
            cp = nxt.localCheckpoint(eager=True)
            nxt.unpersist()
            nxt = cp
        n_cur = nxt.count()
        edges.unpersist()
        edges = nxt
        if n_cur == n_prev:
            converged = True
            break
        n_prev = n_cur
        if n_cur <= LOCAL_CUTOFF:
            tail = local_rows(edges)

    if tail is None:
        # peeling only ever removes edges: an unchanged count after one
        # more (unpersisted) peel means the loop already reached it
        if not converged and _peel(edges, k).count() != n_prev:
            edges.unpersist()
            raise _round_cap_error("kcore_nodes", "KCORE_MAX_ROUNDS", KCORE_MAX_ROUNDS)
        sym = edges.unionAll(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        return sym.groupBy(F.col("u").alias("id")).agg(
            F.count(F.lit(1)).alias("core_degree")
        )

    edges.unpersist()
    u = tail.column("u").to_numpy().astype(np.int64)
    v = tail.column("v").to_numpy().astype(np.int64)
    while len(u):
        ids, counts = np.unique(np.concatenate([u, v]), return_counts=True)
        alive = ids[counts >= k]
        mask = np.isin(u, alive) & np.isin(v, alive)
        if mask.all():
            break
        u, v = u[mask], v[mask]
    ids, counts = np.unique(np.concatenate([u, v]), return_counts=True)
    return local_frame(spark, "id bigint, core_degree bigint not null", [ids, counts])
