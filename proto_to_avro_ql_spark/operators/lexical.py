"""BM25 lexical search — the term-based complement to the embedding
similarity search (operators/simsearch.py) in a training-data pipeline
(corpus querying, contamination checks, targeted filtering).

Plan shape (all built-in expressions, no Python; round-2 two-pass
rewrite per VERDICT.md item 7):
  tokenize/explode → ONE hash aggregation per doc computing dl AND a
  conditional tf count per query term (query terms are a small fixed
  list, so the aggregation buffer is k+1 longs) → ONE single-row stats
  aggregate (avgdl, n, per-term document frequencies) broadcast back →
  per-doc score as a fixed-order column expression →
  TakeOrderedAndProject top-k.

At 100 TB: exactly one large shuffle (the per-doc aggregation, keyed
on doc_id with map-side partials — one (k+1)-long row per task×doc);
the stats row is a broadcast single row; no joins on the token stream
at all. The round-1 shape had separate dl/tf/dft aggregations re-joined
per doc (6 exchanges); this folds them into 2. Scores involve no
cross-row double SUM — per-doc scores are expressions over exact
integer counts, so the result is partition-order independent.
For a standing search service you would stage `per_doc` as a bucketed
table once and reuse across queries.

The held-out n-gram corpus (token arrays and bigram counts over the
mix31 eval split) that every held-out LM entry scores is also written
here once, as Spark builders plus their DuckDB ``*_sql`` twins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from proto_to_avro_ql_spark.functions.portable import (
    eval_split_duckdb_sql,
    eval_split_spark_sql,
)
from proto_to_avro_ql_spark.functions.text import (
    adjacent_pairs,
    adjacent_pairs_sql,
    nonempty_tokens,
    nonempty_tokens_sql,
    tokens,
)
from proto_to_avro_ql_spark.sources.io import ensure_min_parallelism, read_table


def bm25_search(
    docs: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 20,
) -> DataFrame:
    """Top-k documents by BM25 score for ``query_terms``.

    Deterministic: output ordered by (rounded score desc, id asc);
    scores rounded to 6 decimals so the DuckDB oracle hash-matches.
    Score = sum over matching terms of idf(t) * tf_norm(t), summed in
    fixed query-term order (a column expression, not a row aggregate).
    """
    toks = (
        ensure_min_parallelism(docs)
        .select(
            F.col(id_col),
            F.explode(tokens(F.col(text_col))).alias("t"),
        )
        .where(F.col("t") != "")
    )
    per_doc = toks.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("dl"),
        *[
            F.count(F.when(F.col("t") == term, 1)).alias(f"tf{i}")
            for i, term in enumerate(query_terms)
        ],
    ).persist()
    stats = per_doc.agg(
        F.avg("dl").alias("avgdl"),
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("long")).alias(f"dft{i}")
            for i in range(len(query_terms))
        ],
    )
    joined = per_doc.crossJoin(F.broadcast(stats))

    score = F.lit(0.0)
    matched = F.lit(False)
    for i in range(len(query_terms)):
        tf_i, dft_i = F.col(f"tf{i}"), F.col(f"dft{i}")
        idf = F.log((F.col("n") - dft_i + 0.5) / (dft_i + 0.5) + 1)
        tf_norm = (tf_i * (k1 + 1)) / (
            tf_i + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
        )
        score = score + F.when(tf_i > 0, idf * tf_norm).otherwise(F.lit(0.0))
        matched = matched | (tf_i > 0)
    scored = joined.where(matched).select(
        F.col(id_col), F.round(score, 6).alias("bm25")
    )
    return scored.orderBy(F.desc("bm25"), F.asc(id_col)).limit(top_k)


def tfidf_top_terms(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 5,
) -> DataFrame:
    """Top-k characteristic terms per document by smoothed TF-IDF
    (idf = ln((N+1)/(df+1)) + 1, sklearn-style so no term gets a zero
    weight). Deterministic ranking: (rounded score desc, term asc).

    Plan: explode → ONE (doc,term) count aggregation → term-keyed df
    aggregation re-joined on the term (per-distinct-term scale, tiny
    vs the corpus) → single-row N broadcast → per-doc ranking window.
    The raw text never shuffles; the widest payload is (doc_id, term,
    tf). At 100 TB the df relation is vocabulary-scale and the join
    key is the term — skew on stopword-like terms is bounded because
    tf rows are already aggregated per doc."""
    from pyspark.sql.window import Window

    toks = (
        ensure_min_parallelism(docs)
        .select(
            F.col(id_col),
            F.explode(tokens(F.col(text_col))).alias("term"),
        )
        .where(F.col("term") != "")
    )
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    # df as a window over tf (partition by term) instead of a separate
    # aggregate + rejoin: one exchange fewer, no join — tf rows are the
    # per-(doc,term) relation either way.
    df_t = F.count(F.lit(1)).over(Window.partitionBy("term"))
    n_docs = docs.select(
        F.count_distinct(F.col(id_col)).alias("n_docs")
    )
    scored = (
        tf.withColumn("df", df_t)
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.round(
                F.col("tf")
                * (F.log((F.col("n_docs") + 1) / (F.col("df") + 1)) + 1),
                6,
            ),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_k)
        .select(id_col, "term", "tf", "df", "score", "rank")
    )


# --- held-out n-gram corpus (the split every held-out LM entry scores) ----


def heldout_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(is_eval, lang, a): each document's non-empty tokens, with
    is_eval = 1 on the held-out 20% of the mix31(doc_id) split.
    ensure_min_parallelism detaches the tokenize chain from a
    single-row-group scan, which would otherwise run it as one task
    (plans/r13/ext_katz_vs_kn_before.txt operators (5)-(9))."""
    docs = ensure_min_parallelism(read_table(spark, sf_dir, "documents"))
    return docs.select(
        F.expr(f"CASE WHEN {eval_split_spark_sql('doc_id')} THEN 1 ELSE 0 END").alias(
            "is_eval"
        ),
        "lang",
        nonempty_tokens(F.col("text")).alias("a"),
    )


def heldout_tokens_sql() -> str:
    """DuckDB twin of :func:`heldout_tokens`: the CTE ``arrs``."""
    return f"""arrs AS MATERIALIZED (
      SELECT CASE WHEN {eval_split_duckdb_sql('doc_id')} THEN 1 ELSE 0 END AS is_eval, lang,
             {nonempty_tokens_sql()} AS a
      FROM documents
    )"""


def heldout_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(is_eval, lang, v, w, cnt): adjacent-token bigram counts per
    split side and language — the one corpus-scale aggregate (map-side
    partials) that train statistics and eval scoring both slice, hence
    persisted; released by the caller's session-hygiene sweep."""
    pr = heldout_tokens(spark, sf_dir).select(
        "is_eval",
        "lang",
        F.explode(adjacent_pairs("a")).alias("p"),
    )
    return (
        pr.select(
            "is_eval",
            "lang",
            F.col("p.v").alias("v"),
            F.col("p.w").alias("w"),
        )
        .groupBy("is_eval", "lang", "v", "w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .persist()
    )


def heldout_bigrams_sql() -> str:
    """DuckDB twin of :func:`heldout_bigrams`: the CTEs ``arrs`` and
    ``occ``."""
    return f"""{heldout_tokens_sql()},
    occ AS MATERIALIZED (
      SELECT is_eval, lang, v, w, COUNT(*) AS cnt FROM (
        SELECT is_eval, lang, {adjacent_pairs_sql('a')}
        FROM arrs
      ) GROUP BY 1, 2, 3, 4
    )"""
