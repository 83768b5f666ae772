"""Similarity search over embedding columns (SURVEY.md §2.9
ext_sim_search): brute-force cosine top-k as the exactness baseline,
random-hyperplane-LSH bucketing as the scale path, and
embedding-cosine near-dup pairs.

Scale design:
- The query side is tiny and explicitly ``broadcast()`` — the corpus
  side never shuffles for brute force (map-side nested loop over
  broadcast queries + per-partition top-k via window).
- Dot products are pure ``zip_with``/``aggregate`` expressions (JVM)
  over array<float> cast to double — no Python, no UDF.
- The LSH variant buckets corpus vectors by sign-pattern against a
  fixed set of hyperplanes; queries probe only their own bucket
  (+ optional multi-probe), turning top-k from O(N·Q) into
  O(N·Q/2^planes) at a recall cost. Hyperplanes are deterministic
  (seeded) literals, so plans are reproducible.

r12 pair-stage cost model (every quadratic pair scan in this module):
- L2 norms are computed ONCE PER ROW before the pair join (n folds,
  not 3·n² folds); the per-pair expression dot/(na·nb) evaluates ONE
  array fold instead of three. Bit-identical doubles — the norm of a
  row is the same fold either way, only computed once.
- The non-broadcast side of each pair join is hash-repartitioned to
  ``defaultParallelism`` so the O(pairs) compute stage uses every
  core: a bytes-tiny corpus otherwise scans as ONE parquet split and
  the whole quadratic stage runs in a single task (measured 36.9 s →
  1.1 s on ext_dedup_embed at sf0.1/32c). Cluster-derived width, not
  a local constant; at lake scale the scan already has ≥ width splits
  and the repartition is a cheap O(n) rebalance ahead of O(n²) work.
- An UNROLLED fixed-dim dot (64 getItem terms, whether built as
  Column ops or one SQL string) was measured and REJECTED: pair
  predicates evaluate inside join conditions (CartesianProduct /
  BroadcastNestedLoopJoin), which are interpreted, and an interpreted
  192-node Add tree is ~3x SLOWER than the interpreted HOF fold
  (42 s vs 13 s isolated), plus 12-16 s of py4j Column-construction
  overhead per plan when built term-by-term.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from proto_to_avro_ql_spark.sources.io import ensure_min_parallelism


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def _pair_width(df: DataFrame) -> int:
    """Partition width for quadratic pair stages: cluster-derived
    (defaultParallelism), never a tuned constant. Explicit-width
    repartition is exempt from AQE coalescing, which would otherwise
    fold a bytes-tiny but compute-quadratic stage back to one task."""
    return df.sparkSession.sparkContext.defaultParallelism


def brute_force_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query id (excluding self).
    Queries broadcast; ties broken by neighbor id for determinism.
    r12: corpus-side norms computed once per row ahead of the pair
    stage, and the corpus run through ensure_min_parallelism so the
    O(N·Q) nested loop uses every core (see module docstring; no-op
    when the scan already has >= core-count splits)."""
    q = embeddings.where(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        l2_norm(F.col(vec_col)).alias("_qn"),
    )
    c = ensure_min_parallelism(
        embeddings.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col))
    ).select(
        "neighbor_id",
        F.col(vec_col).alias("nvec"),
        l2_norm(F.col(vec_col)).alias("_nn"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("qvec"), F.col("nvec")) / (F.col("_qn") * F.col("_nn")),
                6,
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def _hyperplanes(dim: int, planes: int, seed: int = 42) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(planes)]


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-pattern bucket id against fixed hyperplanes."""
    bucket = F.lit(0)
    for i, p in enumerate(planes):
        h = F.array(*[F.lit(x) for x in p])
        bucket = bucket + F.when(dot(vec, h) >= 0, F.lit(1 << i)).otherwise(F.lit(0))
    return bucket


def lsh_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    dim: int = 64,
    planes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: compare only within the query's LSH bucket.
    2^planes buckets ⇒ ~N/2^planes candidates per query. Recall is
    approximate by design (the driver records rows-only for this one;
    exactness is the brute-force variant's job). r12: per-row norms +
    corpus through ensure_min_parallelism ahead of the broadcast
    bucket join (broadcast-hash preserves the corpus partitioning;
    no-op at lake scale)."""
    hp = _hyperplanes(dim, planes)
    emb = embeddings.select(
        F.col(id_col), F.col(vec_col), lsh_bucket(F.col(vec_col), hp).alias("bucket")
    )
    q = emb.where(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        l2_norm(F.col(vec_col)).alias("_qn"),
        F.col("bucket"),
    )
    c = ensure_min_parallelism(
        embeddings.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col))
    ).select(
        "neighbor_id",
        F.col(vec_col).alias("nvec"),
        l2_norm(F.col(vec_col)).alias("_nn"),
        lsh_bucket(F.col(vec_col), hp).alias("bucket"),
    )
    scored = (
        F.broadcast(q)
        .join(c, "bucket")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("qvec"), F.col("nvec")) / (F.col("_qn") * F.col("_nn")),
                6,
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 4,
    dim: int = 64,
    exact: bool = False,
    salt: int = 8,
) -> DataFrame:
    """Embedding-cosine near-dup pairs (cos ≥ threshold).

    exact=True: full O(n²) self-join — only for oracle-scale data.
    exact=False (default): LSH-bucketed self-join; high-cosine pairs
    land in the same sign bucket with high probability.

    r12 pair-stage cost model (see module docstring): norms once per
    row, pair stage parallelized. The exact path broadcasts one side
    (nested loop over the ensure_min_parallelism'd other side — fine
    at its documented oracle scale); the LSH path salts
    the bucket join exactly like :func:`semantic_dedup_cells` —
    2^planes distinct keys alone cannot occupy a cluster, so the
    probe side gets ``pmod(id, salt)`` and the build side replicates
    ``salt`` ways; same pair set, ``salt``× finer key space.
    Isolated noop-sink medians at sf0.1/32c: exact 36.9 s → 1.2 s,
    LSH 3.4 s → 1.0 s.
    """
    width = _pair_width(embeddings)
    na = l2_norm(F.col(vec_col)).alias("_na")
    nb = l2_norm(F.col(vec_col)).alias("_nb")
    emb = embeddings.select(F.col(id_col), F.col(vec_col))
    if not exact:
        hp = _hyperplanes(dim, planes)
        emb = emb.select("*", lsh_bucket(F.col(vec_col), hp).alias("bucket"))
        a = emb.select(
            *[F.col(c).alias(f"{c}_a") for c in (id_col, vec_col)],
            na,
            "bucket",
            F.pmod(F.col(id_col), F.lit(salt)).alias("_blk"),
        ).repartition(width, "bucket", "_blk")
        b = emb.select(
            *[F.col(c).alias(f"{c}_b") for c in (id_col, vec_col)],
            nb,
            "bucket",
            F.explode(F.sequence(F.lit(0), F.lit(salt - 1))).alias("_blk"),
        ).repartition(width, "bucket", "_blk")
        joined = a.join(b, ["bucket", "_blk"])
    else:
        a = ensure_min_parallelism(emb).select(
            *[F.col(c).alias(f"{c}_a") for c in (id_col, vec_col)], na
        )
        b = emb.select(*[F.col(c).alias(f"{c}_b") for c in (id_col, vec_col)], nb)
        joined = a.crossJoin(F.broadcast(b))
    return (
        joined.where(F.col(f"{id_col}_a") < F.col(f"{id_col}_b"))
        .select(
            F.col(f"{id_col}_a").alias("id_a"),
            F.col(f"{id_col}_b").alias("id_b"),
            F.round(
                dot(F.col(f"{vec_col}_a"), F.col(f"{vec_col}_b"))
                / (F.col("_na") * F.col("_nb")),
                6,
            ).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= threshold)
    )


def _mean_vectors(assigned: DataFrame, vec_col: str) -> DataFrame:
    """(cell, vec) → (cell, centroid=mean vec): posexplode → per-(cell,
    pos) avg → re-assemble. All map-side-combined aggregates."""
    pos = assigned.select("cell", F.posexplode(vec_col).alias("pos", "val"))
    per_dim = pos.groupBy("cell", "pos").agg(F.avg("val").alias("avg"))
    return (
        per_dim.groupBy("cell")
        .agg(F.sort_array(F.collect_list(F.struct("pos", "avg"))).alias("dims"))
        .select("cell", F.transform("dims", lambda d: d["avg"]).alias("centroid"))
    )


def _assign_cells(emb: DataFrame, cents: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Each vector → nearest centroid by cosine (deterministic tiebreak)."""
    scored = emb.crossJoin(F.broadcast(cents)).select(
        id_col, vec_col, "cell", cosine(F.col(vec_col), F.col("centroid")).alias("sim")
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("sim"), F.asc("cell"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(id_col, vec_col, "cell")
    )


def kmeans_train(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Train the IVF coarse quantizer: Lloyd's iterations with
    deterministic seeds (the k lowest-id vectors — no RNG, reproducible
    plans). Each iteration: one broadcast assignment pass + one
    aggregate; centroids stay tiny and driver-free. Returns the FULL
    trained (cell, centroid) relation — including a cell that ends the
    final assignment empty (same contract as the integer-grid
    kmeans_train_int; probe ranking must use this relation, not the
    assignment join's surviving cells)."""
    cents = embeddings.where(F.col(id_col) < k).select(
        F.col(id_col).alias("cell"), F.col(vec_col).alias("centroid")
    )
    for _ in range(iters):
        assigned = _assign_cells(embeddings, cents, id_col, vec_col)
        cents = _mean_vectors(assigned, vec_col)
    return cents


def kmeans_cells(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assignment view of kmeans_train: (id, vec, cell, centroid).
    Inner join — a trained centroid with no final members carries no
    row here; use kmeans_train for the complete probe set."""
    cents = kmeans_train(embeddings, k=k, iters=iters, id_col=id_col, vec_col=vec_col)
    return _assign_cells(embeddings, cents, id_col, vec_col).join(
        cents, "cell"
    )


def ivf_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    probes: int = 2,
    k_cells: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-style ANN: search only the ``probes`` inverted lists whose
    centroids are nearest each query. At 100 TB the corpus is
    partitioned by cell, so a query touches ~probes/k_cells of the
    data; centroids are tiny and broadcast; the quantizer is trained
    once and reused across queries. Probe ranking runs over the FULL
    trained centroid relation (kmeans_train), not the assignment
    join's surviving cells — same orphaned-centroid contract as
    ivf_topk_int."""
    # cents is k rows but carries the whole Lloyd's chain; persist so
    # probe ranking and the assignment pass read the materialized rows
    # (allowlisted in tools/audit_caches, single-shot).
    cents = kmeans_train(
        embeddings, k=k_cells, id_col=id_col, vec_col=vec_col
    ).persist()
    assigned = _assign_cells(embeddings, cents, id_col, vec_col).persist()
    q = embeddings.where(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    # rank cells per query by centroid cosine; keep top `probes`
    qc = (
        F.broadcast(q)
        .crossJoin(F.broadcast(cents))
        .select(
            "query_id",
            "qvec",
            "cell",
            cosine(F.col("qvec"), F.col("centroid")).alias("cent_sim"),
        )
    )
    w_cell = Window.partitionBy("query_id").orderBy(F.desc("cent_sim"), F.asc("cell"))
    probed = (
        qc.withColumn("cell_rank", F.row_number().over(w_cell))
        .where(F.col("cell_rank") <= probes)
        .select("query_id", "qvec", "cell")
    )
    c = assigned.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("nvec"),
        "cell",
    )
    scored = (
        F.broadcast(probed)
        .join(c, "cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("qvec"), F.col("nvec")), 6).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def semantic_dedup_cells(
    emb: DataFrame,
    cell_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    salt: int = 8,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): embeddings are partitioned into cells, pairwise
    cosine is computed ONLY within a cell, and of any pair with
    cos ≥ threshold the higher id is dropped (greedy lower-id-wins —
    the paper's keep-one-per-ε-ball simplification; no transitive
    closure needed, unlike ext_dedup_cluster). The default threshold
    0.95 matches the paper's near-1.0 ε regime (duplicates, not
    merely related content); the ext_semdedup registration passes a
    testdata-shaped 0.2 explicitly because the synthetic embeddings
    have no near-identical pairs.

    ``cell_col`` is the scale knob: the oracle-able entry uses the
    deterministic ``label`` column as the cell; at corpus scale you
    swap in :func:`kmeans_cells`'s assignment (cluster count grows
    with n, bounding per-cell membership) — the plan is identical, one
    column swap. Shuffles: one self-join keyed on the cell (pairs
    never leave their cell; no corpus-wide cross join) + one key-only
    anti-join of (id) against the survivors — vectors cross the wire
    once each (``salt`` times for the replicated side), dup ids travel
    as bare keys.

    Two cost controls on the quadratic pair stage:

    - L2 norms are computed ONCE PER ROW before the join; the per-pair
      predicate is dot/(na*nb) — the same expression tree (bit-equal
      doubles) as cosine-per-pair, at 1 array fold per pair instead
      of 3.
    - ``salt`` splits each cell's pairs across ``salt`` tasks (probe
      side salted on id, build side replicated — the same
      salt-replicate recipe as ext_skew_join_salted), so a hot or
      low-cardinality cell set still uses every core. Replication
      multiplies the build-side shuffle by ``salt``: keep it ~cores/
      #cells locally, 1 on clusters where #cells >> cores.
    """
    na = l2_norm(F.col(vec_col))
    a = emb.select(
        F.col(cell_col).alias("_cell"),
        F.col(id_col).alias("_id_a"),
        F.col(vec_col).alias("_va"),
        na.alias("_na"),
        F.pmod(F.col(id_col), F.lit(salt)).alias("_blk"),
    )
    b = emb.select(
        F.col(cell_col).alias("_cell"),
        F.col(id_col).alias("_id_b"),
        F.col(vec_col).alias("_vb"),
        na.alias("_nb"),
        F.explode(F.sequence(F.lit(0), F.lit(salt - 1))).alias("_blk"),
    )
    # explicit-width repartition: AQE's small-bytes coalescing would
    # otherwise fold this CPU-bound (bytes-tiny, pairs-quadratic) join
    # down to one task; a user-specified partition count is exempt
    # from coalescing. Width = defaultParallelism — cluster-derived,
    # and at lake scale the stage is bytes-large anyway.
    width = emb.sparkSession.sparkContext.defaultParallelism
    dups = (
        a.repartition(width, "_cell", "_blk")
        .join(b.repartition(width, "_cell", "_blk"), ["_cell", "_blk"])
        .where(F.col("_id_a") < F.col("_id_b"))
        .where(
            F.round(
                dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb")), 6
            )
            >= threshold
        )
        .select(F.col("_id_b").alias(id_col))
        .distinct()
    )
    return emb.join(dups, id_col, "left_anti").select(id_col, cell_col)


# ---------------------------------------------------------------------------
# Product quantization (IVF-PQ's second stage): per-subspace codebooks,
# 4-bit-ish codes, and asymmetric-distance search. Completes the ANN
# ladder brute → LSH → IVF → PQ codes (the memory-bound regime: a
# D-float vector becomes m small codes, so a 100 TB embedding corpus
# fits in RAM-adjacent storage and distance evaluation becomes m
# table lookups per candidate).
# ---------------------------------------------------------------------------


def l2sq(a: Column, b: Column) -> Column:
    """Squared L2 distance between two float arrays, in codegen."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _sub_slices(vec_col: str, m: int, sub: int):
    """(sub, subvector) pairs for one row: m slices exploded from a
    cheap index transform (slice after the generate, per the
    generate-pitfall rule)."""
    return F.posexplode(
        F.expr(
            f"transform(sequence(0, {m - 1}),"
            f" s -> slice({vec_col}, s * {sub} + 1, {sub}))"
        )
    )


def pq_codebooks(
    embeddings: DataFrame,
    m: int = 4,
    k: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Train per-subspace PQ codebooks: split each D-dim vector into m
    contiguous D/m-dim subvectors and run deterministic Lloyd's (seeds
    = the k lowest-id vectors, L2 metric — PQ quantizes distance, not
    direction) independently per subspace. Returns (sub, cell,
    centroid) with m*k rows — tiny and broadcastable at any corpus
    size. Scale shape: ALL m subspaces train together — per iteration
    ONE broadcast assignment pass over the exploded (row, sub)
    relation, argmin as a min(struct) HASH aggregate (no sort window),
    then one map-side-combined per-dimension mean; the corpus is read
    once per iteration regardless of m and never shuffles by anything
    bigger than a subvector."""
    dim = len(embeddings.select(vec_col).first()[0])
    sub = dim // m
    sv = embeddings.select(
        F.col(id_col).alias("_id"), _sub_slices(vec_col, m, sub).alias("sub", "_v")
    )
    books = embeddings.where(F.col(id_col) < k).select(
        F.col(id_col).cast("int").alias("cell"),
        _sub_slices(vec_col, m, sub).alias("sub", "centroid"),
    )
    for _ in range(iters):
        scored = sv.join(F.broadcast(books), "sub").select(
            "_id",
            "sub",
            "_v",
            F.struct(
                l2sq(F.col("_v"), F.col("centroid")).alias("d"),
                F.col("cell").alias("cell"),
            ).alias("dc"),
        )
        assigned = (
            scored.groupBy("_id", "sub")
            .agg(F.min("dc").alias("best"), F.first("_v").alias("v"))
            .select("sub", F.col("best.cell").alias("cell"), "v")
        )
        per_dim = assigned.select(
            "sub", "cell", F.posexplode("v").alias("pos", "val")
        ).groupBy("sub", "cell", "pos").agg(F.avg("val").alias("avg"))
        books = (
            per_dim.groupBy("sub", "cell")
            .agg(F.sort_array(F.collect_list(F.struct("pos", "avg"))).alias("dims"))
            .select(
                "sub",
                "cell",
                F.transform("dims", lambda d: d["avg"])
                .cast("array<float>")
                .alias("centroid"),
            )
        )
    return books


def pq_encode(
    embeddings: DataFrame,
    books: DataFrame,
    m: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes array<int>): each subvector snaps to its nearest
    codebook centroid. ONE pass: slices explode once per row, the m*k
    codebook broadcasts into a sub-keyed join, and a per-(id, sub)
    min(struct) HASH aggregate picks the code — the corpus is read
    once regardless of m and nothing sorts."""
    dim = len(embeddings.select(vec_col).first()[0])
    sub = dim // m
    sv = embeddings.select(
        F.col(id_col), _sub_slices(vec_col, m, sub).alias("sub", "_v")
    )
    scored = sv.join(F.broadcast(books), "sub").select(
        id_col,
        "sub",
        F.struct(
            l2sq(F.col("_v"), F.col("centroid")).alias("d"),
            F.col("cell").alias("cell"),
        ).alias("dc"),
    )
    picked = (
        scored.groupBy(id_col, "sub")
        .agg(F.min("dc").alias("best"))
        .select(id_col, "sub", F.col("best.cell").alias("cell"))
    )
    return picked.groupBy(id_col).agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("sub", "cell"))),
            lambda c: c["cell"],
        ).alias("codes")
    )


def pq_adc_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    m: int = 4,
    k_codes: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance PQ search: queries stay full-precision, the
    corpus is its codes. Per query a (sub, code) → partial-distance
    lookup table (m*k rows) is built against the codebooks; candidate
    distance = Σ over subspaces of the LUT entry for the candidate's
    code — a keyed join + hash aggregate, never a vector-sized
    shuffle. The approximation error vs exact cosine/L2 is pinned in
    pytest (recall@k against brute force)."""
    books = pq_codebooks(
        embeddings, m=m, k=k_codes, iters=iters, id_col=id_col, vec_col=vec_col
    ).persist()
    dim = len(embeddings.select(vec_col).first()[0])
    sub = dim // m
    codes = pq_encode(embeddings, books, m=m, id_col=id_col, vec_col=vec_col)
    q = embeddings.where(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    lut = (
        F.broadcast(q)
        .crossJoin(F.broadcast(books))
        .select(
            "query_id",
            "sub",
            "cell",
            l2sq(
                F.slice(
                    F.col("qvec"),
                    F.col("sub") * F.lit(sub) + F.lit(1),
                    F.lit(sub),
                ),
                F.col("centroid"),
            ).alias("pd"),
        )
    )
    cand = codes.select(
        F.col(id_col).alias("neighbor_id"),
        F.posexplode("codes").alias("sub", "cell"),
    )
    scored = (
        cand.join(F.broadcast(lut), ["sub", "cell"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.round(F.sum("pd"), 6).alias("adc_dist"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc_dist", "rank")
    )


# ---------------------------------------------------------------------------
# Integer-grid variants (round 8): the same Lloyd's / IVF / PQ
# algorithms over micro-quantized integer vectors, so every distance,
# centroid, and rank is exact integer arithmetic that DuckDB reproduces
# bit-for-bit (functions/portable.py holds the paired SQL fragments and
# the unrolled-CTE oracle generator). The float variants above remain
# the production path for raw recall work; these are the ORACLED path —
# same scale shape (broadcast centroids/codebooks, map-side-combined
# per-dimension sums, never a vector-sized shuffle beyond the corpus
# pass), deterministic to the last bit.
# ---------------------------------------------------------------------------


def _quant(vec_col: str) -> Column:
    from proto_to_avro_ql_spark.functions.portable import vec_quant_spark_sql

    return F.expr(vec_quant_spark_sql(vec_col))


def l2sq_int(a: str, b: str) -> Column:
    from proto_to_avro_ql_spark.functions.portable import l2sq_spark_sql

    return F.expr(l2sq_spark_sql(a, b))


def _fdiv(s: str, n: str) -> Column:
    from proto_to_avro_ql_spark.functions.portable import fdiv_sql

    return F.expr(fdiv_sql(s, n))


def _assign_cells_int(qv: DataFrame, cents: DataFrame, keys: list[str]) -> DataFrame:
    """Nearest centroid by integer L2 — min(struct(dist, cell)) hash
    aggregate (lexicographic min == ROW_NUMBER(dist, cell) rank 1 in
    the DuckDB oracle; no sort window)."""
    join_on = [k for k in keys if k == "sub"]
    j = (
        qv.join(F.broadcast(cents), join_on)
        if join_on
        else qv.crossJoin(F.broadcast(cents))
    )
    scored = j.select(
        *keys,
        "v",
        F.struct(l2sq_int("v", "cv").alias("d"), F.col("cell").alias("cell")).alias(
            "dc"
        ),
    )
    return (
        scored.groupBy(*keys)
        .agg(F.min("dc").alias("best"), F.first("v").alias("v"))
        .select(*keys, F.col("best.cell").alias("cell"), "v")
    )


def _mean_vectors_int(
    assigned: DataFrame, group: list[str], dim: int | None = None
) -> DataFrame:
    """(group, cell, v) → (group, cell, cv): per-dimension exact
    integer floor-mean.

    r13 (guide §2.4/§1.1, VERDICT #6): with a KNOWN SMALL dimension
    (the PQ subspace path, dim = 4) the whole update is ONE map-side-
    combined aggregate — per (group, cell) the member count plus one
    Σv[i] per dimension, re-assembled positionally with array() —
    instead of posexplode (dim× the rows) → per-(i) sums → a SECOND
    regroup via sort_array(collect_list(...)). Each Σ is the identical
    integer the exploded aggregate produced; fdiv_sql text unchanged —
    cv is bit-identical. Measured: ext_pq_search 6.14 → 5.18 s
    (interleaved min), plan loses the Generate + one exchange per
    Lloyd's update.

    dim=None keeps the exploded shape. The fused form was ALSO
    measured at full dimension (64, the kmeans/IVF/semdedup path) and
    REJECTED: building 64 sum + 64 fdiv + array(64) Columns costs more
    plan-build py4j time than the explode costs execution time at any
    local SF (ext_kmeans 1.78 → 2.79 s interleaved min — the r12 §A
    64-term-expression lesson again), so full-dim callers keep the
    exploded shape and skip the dim probe entirely."""
    if dim is not None:
        per = assigned.groupBy(*group, "cell").agg(
            F.count("v").alias("n"),  # NULL vectors add nothing, as exploded
            *[F.sum(F.col("v")[i]).alias(f"_s{i}") for i in range(dim)],
        )
        return per.select(
            *group,
            "cell",
            F.array(*[_fdiv(f"_s{i}", "n") for i in range(dim)]).alias("cv"),
        )
    pos = assigned.select(*group, "cell", F.posexplode("v").alias("i", "val"))
    per_dim = pos.groupBy(*group, "cell", "i").agg(
        F.sum("val").alias("s"), F.count(F.lit(1)).alias("n")
    )
    per_dim = per_dim.select(*group, "cell", "i", _fdiv("s", "n").alias("cval"))
    return (
        per_dim.groupBy(*group, "cell")
        .agg(F.sort_array(F.collect_list(F.struct("i", "cval"))).alias("dims"))
        .select(*group, "cell", F.transform("dims", lambda d: d["cval"]).alias("cv"))
    )


def kmeans_train_int(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Integer-grid Lloyd's training: deterministic seeds (k lowest-id
    vectors), integer squared-L2 assignment with (dist, cell)
    tie-break, exact floor-mean updates. Returns ``(qv, cents)`` —
    the quantized vectors ``(vec_id, v)`` and the FULL trained centroid
    relation ``(cell, cv)`` (= the oracle's ``c{iters}`` CTE and the
    Python reference's final-update centroids, including any cell that
    ends the final assignment with zero members). Consumers that need
    the complete probe set — ivf_topk_int — must rank over this
    relation, never over the assignment⋈centroids join, which drops
    final-empty cells."""
    qv = embeddings.select(F.col(id_col).alias("vec_id"), _quant(vec_col).alias("v"))
    cents = qv.where(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cell"), F.col("v").alias("cv")
    )
    for _ in range(iters):
        assigned = _assign_cells_int(qv, cents, ["vec_id"])
        cents = _mean_vectors_int(assigned, [])
    return qv, cents


def kmeans_cells_int(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Integer-grid Lloyd's: assignment view of kmeans_train_int.
    Returns (vec_id, v, cell, cv) — assignment plus final centroids
    (inner join: a trained centroid with no final members carries no
    row here; use kmeans_train_int for the full centroid relation).
    Bit-identical to portable.duckdb_kmeans_ctes."""
    qv, cents = kmeans_train_int(
        embeddings, k=k, iters=iters, id_col=id_col, vec_col=vec_col
    )
    # cents is k tiny rows with the full Lloyd's chain as lineage;
    # persist so the final assignment and the centroid join don't each
    # re-run training (the ivf_topk_int pattern) — allowlisted in
    # tools/audit_caches, dropped by the session-hygiene sweep.
    cents = cents.persist()
    return _assign_cells_int(qv, cents, ["vec_id"]).join(F.broadcast(cents), "cell")


def ivf_topk_int(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    probes: int = 2,
    k_cells: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN on the integer grid: probe the ``probes`` inverted lists
    whose centroids are L2-nearest each query; exact integer ranks
    throughout (dist asc, id asc). Scale shape identical to ivf_topk:
    centroids tiny and broadcast, a query touches ~probes/k_cells of a
    cell-partitioned corpus.

    Probe ranking runs over the FULL trained centroid relation from
    kmeans_train_int — NOT over ``assigned.select(cell, cv).distinct()``,
    which would silently drop a centroid that ends the final Lloyd's
    iteration with zero members and diverge from the DuckDB oracle
    (entry_registry._ivf_oracle ranks over the whole ``c{iters}`` CTE)
    and the Python reference (tests/test_portable_reference.ref_ivf_topk)
    whenever such an orphaned centroid ranks within ``probes`` of a
    query. Pinned by the planted empty-final-cell test in
    tests/test_portable_reference.py."""
    qv, cents = kmeans_train_int(
        embeddings, k=k_cells, iters=iters, id_col=id_col, vec_col=vec_col
    )
    # cents is k rows but its lineage is the full Lloyd's chain; persist
    # so the probe crossJoin and the final assignment both read the
    # materialized 8-row relation instead of re-running training —
    # allowlisted in tools/audit_caches (single-shot, session sweep drops it).
    cents = cents.persist()
    assigned = _assign_cells_int(qv, cents, ["vec_id"]).persist()
    q = assigned.where(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    qc = (
        F.broadcast(q)
        .crossJoin(F.broadcast(cents))
        .select("query_id", "qv", "cell", l2sq_int("qv", "cv").alias("cd"))
    )
    w_cell = Window.partitionBy("query_id").orderBy(F.asc("cd"), F.asc("cell"))
    probed = (
        qc.withColumn("cr", F.row_number().over(w_cell))
        .where(F.col("cr") <= probes)
        .select("query_id", "qv", "cell")
    )
    c = assigned.select(
        F.col("vec_id").alias("neighbor_id"), F.col("v").alias("nv"), "cell"
    )
    scored = (
        F.broadcast(probed)
        .join(c, "cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", l2sq_int("qv", "nv").alias("l2_dist"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("l2_dist"), F.asc("neighbor_id"))
    # cents and assigned stay persisted into the returned plan (cents:
    # probe ranking + the assignment pass; assigned: query extraction +
    # the candidate scan) — same single-shot shape as ivf_topk,
    # allowlisted in tools/audit_caches.
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "l2_dist", "rank")
    )


def _sub_slices_int(
    embeddings: DataFrame, m: int, id_col: str, vec_col: str, dim: int | None = None
) -> DataFrame:
    """(vec_id, sub, v): quantized contiguous subvectors — quantize the
    full vector once, then slice cheap index ranges (the Generate
    pitfall rule: slice after the transform, never explode a computed
    frame array)."""
    from proto_to_avro_ql_spark.functions.portable import vec_quant_spark_sql

    if dim is None:
        dim = len(embeddings.select(vec_col).first()[0])
    sub = dim // m
    qv = vec_quant_spark_sql(vec_col)
    return embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.posexplode(
            F.expr(
                f"transform(sequence(0, {m - 1}),"
                f" s -> slice({qv}, s * {sub} + 1, {sub}))"
            )
        ).alias("sub", "v"),
    )


def pq_adc_topk_int(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    m: int = 16,
    k_codes: int = 32,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Integer-grid PQ ADC search (the oracled variant of pq_adc_topk):
    per-subspace codebooks trained with integer Lloyd's over quantized
    subvectors, candidates carried as (id, sub, code) rows, distance =
    Σ over subspaces of the broadcast LUT entry. Same scale shape as
    the float variant — codebooks m*k rows broadcast, one corpus pass
    per training iteration, ADC is a keyed join + hash aggregate,
    nothing vector-sized shuffles."""
    dim = len(embeddings.select(vec_col).first()[0])
    sv = _sub_slices_int(embeddings, m, id_col, vec_col, dim=dim).persist()
    books = sv.where(F.col("vec_id") < k_codes).select(
        "sub", F.col("vec_id").alias("cell"), F.col("v").alias("cv")
    )
    for _ in range(iters):
        assigned = _assign_cells_int(sv, books, ["vec_id", "sub"])
        books = _mean_vectors_int(assigned, ["sub"], dim // m)
    # books is m*k_codes tiny rows but its lineage is the full Lloyd's
    # chain; persist so the corpus encoding and the query LUT both read
    # the materialized codebooks instead of re-running training twice
    # (the ivf_topk_int cents.persist() pattern) — allowlisted in
    # tools/audit_caches, dropped by the session-hygiene sweep.
    books = books.persist()
    codes = _assign_cells_int(sv, books, ["vec_id", "sub"]).select(
        F.col("vec_id").alias("neighbor_id"), "sub", "cell"
    )
    qq = sv.where(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"), "sub", F.col("v").alias("qv")
    )
    lut = qq.join(F.broadcast(books), "sub").select(
        "query_id", "sub", "cell", l2sq_int("qv", "cv").alias("pd")
    )
    scored = (
        codes.join(F.broadcast(lut), ["sub", "cell"])
        .where(F.col("query_id") != F.col("neighbor_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("pd").alias("adc_dist"))
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("neighbor_id"))
    # sv stays persisted into the returned plan (codebook training,
    # encoding, and the query LUT all read it) — single-shot shape,
    # allowlisted in tools/audit_caches.
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc_dist", "rank")
    )


def semdedup(
    embeddings: DataFrame,
    threshold: float = 0.95,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication via cluster-bucketed cosine — cluster the embedding
    space with the deterministic integer-grid k-means, then search for
    high-cosine pairs ONLY within a cluster and mark every vector that
    duplicates a lower-id clustermate (greedy keep-first, the paper's
    keep-one-per-group policy made deterministic). Returns every input
    vector as (id, cell, is_dup 0/1); downstream keeps is_dup = 0.
    Default threshold 0.95 per the paper's near-1.0 ε regime; the
    ext_semdedup_kmeans registration passes a testdata-shaped 0.2
    explicitly (synthetic embeddings have no near-identical pairs).

    vs ext_dedup_embed_lsh: hyperplane buckets guarantee recall only
    for NEAR-IDENTICAL vectors; k-means cells follow the data's actual
    density, which is what "semantic" duplicates (paraphrases, same
    content re-encoded) need. The within-cluster pair scan is the
    paper's own trade: quadratic in CLUSTER size, never in corpus
    size — at 100 TB raise k so clusters stay bounded (the paper uses
    k=11k for 100M embeddings; cost is one more Lloyd's pass, and the
    pair scan stays Σ|cluster|² ≪ n²).

    Scale shape: training + assignment are kmeans_cells_int's (one
    corpus pass per iteration, (cell, dim, partial-sum) shuffles,
    broadcast centroids); the assigned relation is persisted once and
    read three ways (both self-join sides + the output spine); the
    pair scan shuffles on cell (cluster-bucketed, co-partitioned
    self-join); the dup-id set joins back on id.
    """
    assigned = (
        kmeans_cells_int(
            embeddings, k=k, iters=iters, id_col=id_col, vec_col=vec_col
        )
        .select(id_col, "cell")
        .join(embeddings.select(id_col, vec_col), id_col)
        .persist()
    )
    # r12 pair stage: norms once per row; salted cell join (k cells
    # alone cannot occupy a cluster — same recipe and rationale as
    # semantic_dedup_cells); explicit-width repartition so AQE's
    # small-bytes coalescing can't fold the compute-quadratic join to
    # one task. Same pair set, same per-pair doubles (module docstring).
    salt = 8
    width = _pair_width(embeddings)
    a = assigned.select(
        F.col(id_col).alias("_id_a"),
        F.col(vec_col).alias("_va"),
        l2_norm(F.col(vec_col)).alias("_na"),
        "cell",
        F.pmod(F.col(id_col), F.lit(salt)).alias("_blk"),
    ).repartition(width, "cell", "_blk")
    b = assigned.select(
        F.col(id_col).alias("_id_b"),
        F.col(vec_col).alias("_vb"),
        l2_norm(F.col(vec_col)).alias("_nb"),
        "cell",
        F.explode(F.sequence(F.lit(0), F.lit(salt - 1))).alias("_blk"),
    ).repartition(width, "cell", "_blk")
    dups = (
        a.join(b, ["cell", "_blk"])
        .where(F.col("_id_a") < F.col("_id_b"))
        .where(
            F.round(
                dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb")), 6
            )
            >= threshold
        )
        .select(F.col("_id_b").alias(id_col))
        .distinct()
        .withColumn("_dup", F.lit(1))
    )
    return (
        assigned.join(dups, id_col, "left")
        .na.fill({"_dup": 0})
        .select(id_col, "cell", F.col("_dup").cast("int").alias("is_dup"))
        .orderBy(id_col)
    )
