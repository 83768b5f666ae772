"""Similarity search over embedding columns (SURVEY.md §2.9
ext_sim_search): brute-force cosine top-k as the exactness baseline,
random-hyperplane-LSH bucketing, embedding-cosine near-dup pairs, and
the integer-grid k-means / IVF / PQ operators.

Shared facts, each written once here as a Spark renderer plus the
DuckDB ``*_sql`` twin the oracles embed (``tools/lint_oracles.py`` R6
fails on a copy anywhere else):
- the rounded cosine ``round(dot / (na·nb), 6)`` —
  :func:`rounded_cosine` / :func:`rounded_cosine_sql`;
- the sign-pattern bucket against the seeded hyperplanes, which no
  other module knows — :func:`lsh_bucket` / :func:`lsh_bucket_sql`;
- the exact and the bucketed top-k relations —
  :func:`brute_force_topk` / :func:`brute_force_topk_sql` and
  :func:`lsh_topk` / :func:`lsh_topk_sql`.

Scale design:
- The query side is tiny and explicitly ``broadcast()`` — the corpus
  side never shuffles for brute force (map-side nested loop over
  broadcast queries + per-partition top-k via window).
- Dot products are pure ``zip_with``/``aggregate`` expressions (JVM)
  over array<float> cast to double — no Python, no UDF.
- The kernels (:func:`dot`, :func:`l2_norm`, :func:`rounded_cosine`,
  :func:`lsh_bucket`) each render ONE Spark SQL text over column
  names and return ``F.expr`` of it: one py4j call per kernel instead
  of one per literal, lambda and operator. Built Column by Column, the
  four hyperplanes alone were 256 ``F.lit`` calls, and one
  ext_dedup_embed_lsh build made 2,440 py4j calls; as SQL text it
  makes 435 (cProfile count of ``send_command``, sf0.1). The
  expressions Catalyst gets are the same folds in the same order, so
  every value is bit-identical; only their construction changed.
- The LSH variant buckets corpus vectors by sign-pattern against a
  fixed set of hyperplanes; queries probe only their own bucket,
  turning top-k from O(N·Q) into O(N·Q/2^planes) at a recall cost.
  Hyperplanes are deterministic (seeded) literals, so plans are
  reproducible.

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
- Within-key pair scans (LSH bucket, label cell, k-means cell) are
  salted (the ext_skew_join_salted recipe): a few distinct keys alone
  cannot occupy a cluster, so the probe side gets ``pmod(id, SALT)``
  and the build side replicates ``SALT`` ways — the same pair set
  over a ``SALT``× finer key space.
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

# Salt of the within-key pair scans: the probe side is keyed on
# pmod(id, SALT), the build side replicated SALT ways. Replication
# multiplies the build-side shuffle by SALT: ~cores/#keys locally, 1 on
# clusters where #keys >> cores. A module constant, not an argument;
# tools/skew_bench.py and the tests patch it.
SALT = 8


def _dot_sql(a: str, b: str) -> str:
    # Σ a[i]·b[i] as one left-to-right double fold; zip_with pads the
    # shorter array with NULLs, so a ragged pair, like a null element,
    # folds to NULL
    return (
        f"aggregate(zip_with({a}, {b},"
        " (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, (x, y) -> x + y)"
    )


def _norm_sql(a: str) -> str:
    return (
        f"sqrt(aggregate(transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),"
        " 0D, (x, y) -> x + y))"
    )


def dot(a: str, b: str) -> Column:
    """Inner product of the array columns named ``a`` and ``b``."""
    return F.expr(_dot_sql(f"`{a}`", f"`{b}`"))


def l2_norm(a: str) -> Column:
    """L2 norm of the array column named ``a``."""
    return F.expr(_norm_sql(f"`{a}`"))


def rounded_cosine(a: str, b: str, na: str, nb: str) -> Column:
    """Cosine of the array columns ``a`` and ``b`` rounded to 6 places,
    from their per-row L2 norm columns ``na`` and ``nb`` (one array
    fold per pair); NULL when either norm is 0."""
    return F.expr(
        f"round({_dot_sql(f'`{a}`', f'`{b}`')} / nullif(`{na}` * `{nb}`, 0D), 6)"
    )


def rounded_cosine_sql(a: str, b: str) -> str:
    """DuckDB twin of :func:`rounded_cosine` over two array columns:
    NULL when either norm is 0, where the bare
    ``list_cosine_similarity`` reads -1.0."""
    a, b = f"CAST({a} AS DOUBLE[])", f"CAST({b} AS DOUBLE[])"
    return (
        f"CASE WHEN list_inner_product({a}, {a}) = 0"
        f" OR list_inner_product({b}, {b}) = 0 THEN NULL"
        f" ELSE ROUND(list_cosine_similarity({a}, {b}), 6) END"
    )


def _pair_width(df: DataFrame) -> int:
    """Partition width for quadratic pair stages: cluster-derived
    (defaultParallelism), never a tuned constant. Explicit-width
    repartition is exempt from AQE coalescing, which would otherwise
    fold a bytes-tiny but compute-quadratic stage back to one task."""
    return df.sparkSession.sparkContext.defaultParallelism


def _top_k(scored: DataFrame, k: int, score: str, desc: bool) -> DataFrame:
    """The ``k`` best (query_id, neighbor_id, score, rank) rows per
    query: ``score`` descending (``desc``) or ascending, ties broken by
    neighbor id."""
    order = F.desc(score) if desc else F.asc(score)
    w = Window.partitionBy("query_id").orderBy(order, F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", score, "rank")
    )


def _top_k_sql(k: int) -> str:
    """DuckDB twin of :func:`_top_k` over the cosine-scored CTE ``scored``."""
    return f"""SELECT query_id, neighbor_id, cos_sim,
           CAST(row_number() OVER (PARTITION BY query_id
                ORDER BY cos_sim DESC, neighbor_id ASC) AS INTEGER) AS rank
    FROM scored
    QUALIFY rank <= {k}"""


def _ids_sql(query_ids: list[int]) -> str:
    return ", ".join(str(int(i)) for i in query_ids)


def _query_cosine() -> Column:
    """Rounded cosine of a (qvec, _qn) query row and an (nvec, _nn)
    candidate row."""
    return rounded_cosine("qvec", "nvec", "_qn", "_nn")


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
        l2_norm(vec_col).alias("_qn"),
    )
    c = ensure_min_parallelism(
        embeddings.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col))
    ).select(
        "neighbor_id",
        F.col(vec_col).alias("nvec"),
        l2_norm(vec_col).alias("_nn"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", _query_cosine().alias("cos_sim"))
    )
    return _top_k(scored, k, "cos_sim", desc=True)


def brute_force_topk_sql(query_ids: list[int], k: int) -> str:
    """DuckDB twin of :func:`brute_force_topk` over the ``embeddings``
    table: one SELECT of (query_id, neighbor_id, cos_sim, rank)."""
    return f"""WITH q AS (SELECT vec_id AS query_id, embedding AS qvec
                  FROM embeddings WHERE vec_id IN ({_ids_sql(query_ids)})),
    scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             {rounded_cosine_sql("q.qvec", "e.embedding")} AS cos_sim
      FROM q CROSS JOIN embeddings e
      WHERE q.query_id <> e.vec_id
    )
    {_top_k_sql(k)}"""


def _hyperplanes(dim: int, planes: int, seed: int = 42) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(planes)]


def lsh_bucket(vec: str, dim: int, planes: int) -> Column:
    """Sign-pattern bucket id of the array column named ``vec`` against
    ``planes`` fixed (seeded) ``dim``-dimensional hyperplanes. The
    hyperplane doubles are spelled ``{x!r}D``, which parses back to
    the same double."""
    terms = ["0"]
    for i, p in enumerate(_hyperplanes(dim, planes)):
        h = "array(" + ", ".join(f"{x!r}D" for x in p) + ")"
        terms.append(
            f"CASE WHEN {_dot_sql(f'`{vec}`', h)} >= 0 THEN {1 << i} ELSE 0 END"
        )
    return F.expr(" + ".join(terms))


def lsh_bucket_sql() -> str:
    """DuckDB twin of :func:`lsh_bucket` over the ``embedding`` column
    at the operators' default 64 dimensions and 4 planes: the same
    hyperplane literals, inner products by ``list_inner_product``."""
    return "\n         + ".join(
        f"(CASE WHEN list_inner_product(CAST(embedding AS DOUBLE[]), "
        f"[{', '.join(repr(x) for x in p)}]) >= 0 THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(_hyperplanes(64, 4))
    )


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
    approximate by design (exactness is the brute-force variant's job;
    the scores of the candidates it does find are exact). r12: per-row
    norms + corpus through ensure_min_parallelism ahead of the
    broadcast bucket join (broadcast-hash preserves the corpus
    partitioning; no-op at lake scale)."""
    emb = embeddings.select(
        F.col(id_col),
        F.col(vec_col),
        lsh_bucket(vec_col, dim, planes).alias("bucket"),
    )
    q = emb.where(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        l2_norm(vec_col).alias("_qn"),
        F.col("bucket"),
    )
    c = ensure_min_parallelism(
        embeddings.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col))
    ).select(
        "neighbor_id",
        F.col(vec_col).alias("nvec"),
        l2_norm(vec_col).alias("_nn"),
        lsh_bucket(vec_col, dim, planes).alias("bucket"),
    )
    scored = (
        F.broadcast(q)
        .join(c, "bucket")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", _query_cosine().alias("cos_sim"))
    )
    return _top_k(scored, k, "cos_sim", desc=True)


def lsh_topk_sql(query_ids: list[int], k: int) -> str:
    """DuckDB twin of :func:`lsh_topk` (default 64-dim, 4 planes) over
    the ``embeddings`` table: one SELECT of (query_id, neighbor_id,
    cos_sim, rank)."""
    return f"""WITH b AS (
      SELECT vec_id, embedding,
           {lsh_bucket_sql()} AS bucket
      FROM embeddings
    ), q AS (
      SELECT vec_id AS query_id, embedding AS qvec, bucket
      FROM b WHERE vec_id IN ({_ids_sql(query_ids)})
    ), scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             {rounded_cosine_sql("q.qvec", "c.embedding")} AS cos_sim
      FROM q JOIN b c ON q.bucket = c.bucket AND q.query_id <> c.vec_id
    )
    {_top_k_sql(k)}"""


def _pair_side(df: DataFrame, side: str, id_col: str, vec_col: str, *extra) -> DataFrame:
    """One side of a pair join: ``{id_col}_{side}``, ``{vec_col}_{side}``,
    the row's L2 norm ``_n{side}``, then ``extra``."""
    return df.select(
        *[F.col(c).alias(f"{c}_{side}") for c in (id_col, vec_col)],
        l2_norm(vec_col).alias(f"_n{side}"),
        *extra,
    )


def _scored_pairs(
    joined: DataFrame, threshold: float, id_col: str, vec_col: str
) -> DataFrame:
    """(id_a, id_b, cos_sim) of the joined a/b sides with id_a < id_b
    and cos_sim ≥ ``threshold``."""
    return (
        joined.where(F.col(f"{id_col}_a") < F.col(f"{id_col}_b"))
        .select(
            F.col(f"{id_col}_a").alias("id_a"),
            F.col(f"{id_col}_b").alias("id_b"),
            rounded_cosine(f"{vec_col}_a", f"{vec_col}_b", "_na", "_nb").alias(
                "cos_sim"
            ),
        )
        .where(F.col("cos_sim") >= threshold)
    )


def _salted_pairs(
    df: DataFrame, key: str, threshold: float, id_col: str, vec_col: str
) -> DataFrame:
    """(id_a, id_b, cos_sim) pairs of ``df`` rows with equal ``key``,
    id_a < id_b and cos_sim ≥ ``threshold``. The probe side is salted
    on ``pmod(id, SALT)``, the build side replicated ``SALT`` ways,
    both repartitioned to an explicit width on (key, salt) — AQE's
    small-bytes coalescing would otherwise fold this CPU-bound
    (bytes-tiny, pairs-quadratic) join to one task; a user-specified
    partition count is exempt from coalescing."""
    width = _pair_width(df)
    a = _pair_side(
        df, "a", id_col, vec_col, key, F.pmod(F.col(id_col), F.lit(SALT)).alias("_blk")
    ).repartition(width, key, "_blk")
    b = _pair_side(
        df,
        "b",
        id_col,
        vec_col,
        key,
        F.explode(F.sequence(F.lit(0), F.lit(SALT - 1))).alias("_blk"),
    ).repartition(width, key, "_blk")
    return _scored_pairs(a.join(b, [key, "_blk"]), threshold, id_col, vec_col)


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 4,
    dim: int = 64,
    exact: bool = False,
) -> DataFrame:
    """Embedding-cosine near-dup pairs (id_a < id_b, cos ≥ threshold).

    exact=True: full O(n²) self-join — only for oracle-scale data. One
    side broadcasts; the other runs through ensure_min_parallelism
    (nested loop, fine at its documented oracle scale).
    exact=False (default): LSH-bucketed salted self-join
    (:func:`_salted_pairs` keyed on the bucket); high-cosine pairs land
    in the same sign bucket with high probability.
    Isolated noop-sink medians at sf0.1/32c: exact 36.9 s → 1.2 s,
    LSH 3.4 s → 1.0 s (r12 pair-stage cost model, module docstring).
    """
    emb = embeddings.select(F.col(id_col), F.col(vec_col))
    if not exact:
        emb = emb.select("*", lsh_bucket(vec_col, dim, planes).alias("bucket"))
        return _salted_pairs(emb, "bucket", threshold, id_col, vec_col)
    a = _pair_side(ensure_min_parallelism(emb), "a", id_col, vec_col)
    b = _pair_side(emb, "b", id_col, vec_col)
    return _scored_pairs(a.crossJoin(F.broadcast(b)), threshold, id_col, vec_col)


def semantic_dedup_cells(
    emb: DataFrame,
    cell_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
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
    deterministic ``label`` column as the cell; at corpus scale the
    cell is a learned partition — :func:`semdedup` runs the same pair
    scan over :func:`kmeans_cells_int`'s assignment (cluster count
    grows with n, bounding per-cell membership). Shuffles: one salted
    self-join keyed on the cell (:func:`_salted_pairs`; pairs never
    leave their cell, no corpus-wide cross join) + one key-only
    anti-join of (id) against the survivors — vectors cross the wire
    once each (``SALT`` times for the replicated side), dup ids travel
    as bare keys.
    """
    dups = (
        _salted_pairs(emb, cell_col, threshold, id_col, vec_col)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return emb.join(dups, id_col, "left_anti").select(id_col, cell_col)


# ---------------------------------------------------------------------------
# Integer grid: Lloyd's k-means, IVF and PQ over micro-quantized integer
# vectors, so every distance, centroid and rank is exact integer
# arithmetic that DuckDB reproduces bit for bit (functions/portable.py
# holds the paired SQL fragments and the unrolled-CTE oracle generator).
# These are the module's only k-means / IVF / PQ operators; their
# recall against brute force is pinned in tests/test_simsearch.py.
# Scale shape: broadcast centroids/codebooks, map-side-combined
# per-dimension sums, never a vector-sized shuffle beyond the corpus
# pass.
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
    throughout (dist asc, id asc). Centroids are tiny and broadcast;
    at corpus scale the corpus is partitioned by cell, so a query
    touches ~probes/k_cells of it and the quantizer is trained once
    for all queries.

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
    # cents and assigned stay persisted into the returned plan (cents:
    # probe ranking + the assignment pass; assigned: query extraction +
    # the candidate scan) — single-shot, allowlisted in
    # tools/audit_caches.
    return _top_k(scored, k, "l2_dist", desc=False)


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
    """Integer-grid PQ asymmetric-distance search: per-subspace
    codebooks trained with integer Lloyd's over quantized subvectors,
    candidates carried as (id, sub, code) rows, distance = Σ over
    subspaces of the broadcast LUT entry (queries stay full-precision,
    the corpus is its codes). Codebooks are m*k rows and broadcast,
    one corpus pass per training iteration, ADC is a keyed join + hash
    aggregate; nothing vector-sized shuffles."""
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
    # sv stays persisted into the returned plan (codebook training,
    # encoding, and the query LUT all read it) — single-shot shape,
    # allowlisted in tools/audit_caches.
    return _top_k(scored, k, "adc_dist", desc=False)


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
    pair scan is :func:`_salted_pairs` keyed on the cell (k cells
    alone cannot occupy a cluster, hence the salt); the dup-id set
    joins back on id.
    """
    assigned = (
        kmeans_cells_int(
            embeddings, k=k, iters=iters, id_col=id_col, vec_col=vec_col
        )
        .select(id_col, "cell")
        .join(embeddings.select(id_col, vec_col), id_col)
        .persist()
    )
    dups = (
        _salted_pairs(assigned, "cell", threshold, id_col, vec_col)
        .select(F.col("id_b").alias(id_col))
        .distinct()
        .withColumn("_dup", F.lit(1))
    )
    return (
        assigned.join(dups, id_col, "left")
        .na.fill({"_dup": 0})
        .select(id_col, "cell", F.col("_dup").cast("int").alias("is_dup"))
        .orderBy(id_col)
    )
