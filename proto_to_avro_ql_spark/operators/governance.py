"""Corpus-governance operators for training-data pipelines (SURVEY.md
§2.9 extension surface): repetition quality signals, domain-mix
sampling weights, and a per-stage quality-filter funnel.

These are the observability/curation counterparts of the cleaning
pipeline in operators/corpus.py: repetition is the classic
pathological-document signal (boilerplate, keyword stuffing, decoding
loops); the mix solver turns a target domain composition into concrete
per-source sampling fractions; the funnel reports how many documents
each rule removes — the number every dataset card states per stage.

Scale notes:
- repetition_signals shuffles twice, both keyed aggregations with
  map-side partials: (doc, token) then (doc); shuffle rows are distinct
  tokens per doc, never raw text. No per-doc quadratic expressions.
- domain_mix_weights aggregates to one row per source (tiny), then a
  single-row budget reduce joined back by broadcast — nothing large
  moves.
- quality_funnel is one narrow projection + a single-row aggregate
  (count_if per stage); unpivoted to rows from the 1-row result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from proto_to_avro_ql_spark.functions import text as TX


def repetition_signals(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_dup_ratio: float = 0.3,
    max_top_share: float = 0.2,
) -> DataFrame:
    """Per-document repetition metrics over whitespace tokens:

    - ``dup_token_ratio`` = 1 − distinct/total (how much of the doc is
      repeated vocabulary);
    - ``top_token_share`` = occurrences of the most frequent token /
      total (detects a single token dominating the doc);
    - ``keep`` = both under their thresholds (comparisons on the
      ROUNDED values so the flag is reproducible cross-engine).
    """
    toks = docs.select(
        F.col(id_col),
        F.explode(TX.tokens(F.col(text_col))).alias("t"),
    )
    tc = toks.groupBy(id_col, "t").agg(F.count(F.lit(1)).alias("c"))
    per_doc = tc.groupBy(id_col).agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("c").alias("top_count"),
    )
    dup_ratio = F.round(1 - F.col("n_distinct") / F.col("n_tokens"), 6)
    top_share = F.round(F.col("top_count") / F.col("n_tokens"), 6)
    out = per_doc.select(
        F.col(id_col),
        "n_tokens",
        dup_ratio.alias("dup_token_ratio"),
        top_share.alias("top_token_share"),
    )
    return out.select(
        "*",
        (
            (F.col("dup_token_ratio") <= max_dup_ratio)
            & (F.col("top_token_share") <= max_top_share)
        ).alias("keep"),
    )


def domain_mix_weights(
    docs: DataFrame,
    targets: dict[str, float],
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Per-source sampling fractions that realize a target domain mix.

    Given target shares (summing to 1) over a subset of sources, the
    achievable corpus budget is B = min_s(tokens_s / share_s) — the
    largest total for which no source must be oversampled. Each listed
    source then contributes ``sample_tokens = B * share_s`` via
    ``sample_fraction = B * share_s / tokens_s`` (the binding source
    gets fraction 1.0); unlisted sources are excluded by construction.
    """
    target_map = F.create_map(
        *[F.lit(x) for kv in targets.items() for x in kv]
    )
    tok = (
        docs.groupBy(source_col)
        .agg(F.sum(TX.token_count_ws(F.col(text_col))).alias("tokens"))
        .withColumn("target_share", target_map[F.col(source_col)])
        .where(F.col("target_share").isNotNull())
    )
    budget = tok.agg(
        F.min(F.col("tokens") / F.col("target_share")).alias("budget")
    )
    return (
        tok.crossJoin(F.broadcast(budget))
        .select(
            source_col,
            "tokens",
            "target_share",
            F.round(F.col("budget") * F.col("target_share"), 2).alias("sample_tokens"),
            F.round(
                F.col("budget") * F.col("target_share") / F.col("tokens"), 6
            ).alias("sample_fraction"),
        )
    )


def unigram_lm_score(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document average unigram log-probability under the corpus's
    own token distribution — the cheap statistical-LM quality signal
    (very low scores ≈ gibberish / rare-token soup; very high ≈
    boilerplate). Classic pre-filter before expensive model scoring.

    Plan: explode tokens → vocabulary counts (one hash agg keyed on
    token, map-side partials) → single-row total broadcast → token
    stream re-joined to vocab (shuffle keyed on token; both sides are
    token-count scale, never raw text) → per-doc decimal-exact sum of
    log-probs / count. Scores are rounded to 6 and order-independent
    (see functions/stable.py).
    """
    from proto_to_avro_ql_spark.functions.stable import DEC

    toks = docs.select(
        F.col(id_col),
        F.explode(TX.tokens(F.col(text_col))).alias("t"),
    )
    vocab = toks.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    total = vocab.agg(F.sum("c").alias("total"))
    logp = (
        toks.join(vocab, "t")
        .crossJoin(F.broadcast(total))
        .select(
            F.col(id_col),
            F.log(F.col("c") / F.col("total")).cast(DEC).alias("logp"),
        )
    )
    return logp.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.round(
            F.sum("logp").cast("double") / F.count(F.lit(1)), 6
        ).alias("avg_logprob"),
    )


def quality_funnel(
    docs: DataFrame,
    text_col: str = "text",
    min_tokens: int = 10,
    max_punct_ratio: float = 0.1,
    langs: tuple[str, ...] = ("en",),
) -> DataFrame:
    """Per-stage retention through the standard cleaning rules, applied
    cumulatively: length → punctuation → language. One narrow projection
    computes the three booleans per doc; one single-row aggregate counts
    survivors per prefix; the 1-row result unpivots to (stage, docs_in,
    docs_out, dropped) rows."""
    t = F.col(text_col)
    flags = docs.select(
        (TX.token_count_ws(t) >= min_tokens).alias("r1"),
        (TX.punct_ratio(t) <= max_punct_ratio).alias("r2"),
        TX.lang_id(t).isin(*langs).alias("r3"),
    )
    counts = flags.agg(
        F.count(F.lit(1)).alias("n0"),
        F.count(F.when(F.col("r1"), 1)).alias("n1"),
        F.count(F.when(F.col("r1") & F.col("r2"), 1)).alias("n2"),
        F.count(F.when(F.col("r1") & F.col("r2") & F.col("r3"), 1)).alias("n3"),
    )
    stage = lambda name, i, o: F.struct(  # noqa: E731
        F.lit(name).alias("stage"),
        F.col(i).alias("docs_in"),
        F.col(o).alias("docs_out"),
        (F.col(i) - F.col(o)).alias("dropped"),
    )
    return counts.select(
        F.explode(
            F.array(
                stage("min_tokens", "n0", "n1"),
                stage("max_punct_ratio", "n1", "n2"),
                stage("lang", "n2", "n3"),
            )
        ).alias("s")
    ).select("s.stage", "s.docs_in", "s.docs_out", "s.dropped")


def bigram_lm_score(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document average bigram log-probability P(w2|w1) under the
    corpus's own bigram distribution — the order-sensitive upgrade of
    :func:`unigram_lm_score` (catches shuffled/unnatural token order
    that unigram stats cannot see). MLE, no smoothing: every scored
    bigram was observed, so probabilities are well-defined.

    Bigram generation is ZERO-shuffle: pairs are built in the array
    domain (zip of the token array with its own tail) before the
    explode, so no window or self-join is needed. Context counts are
    derived FROM the bigram counts (c(w1) = Σ_w2 c(w1,w2)), keeping
    one aggregation chain. Log-probs are rounded to DECIMAL(38,6)
    before the per-doc sum — cross-engine ln() ulp noise is removed
    pre-aggregation and the sum is order-independent.

    Docs with fewer than two tokens have no bigrams and drop out.
    """
    from proto_to_avro_ql_spark.functions.stable import DEC

    toks = TX.tokens(F.col(text_col))
    n = F.size(toks)
    pairs = F.arrays_zip(
        F.slice(toks, 1, n - 1).alias("w1"),
        F.slice(toks, 2, n - 1).alias("w2"),
    )
    big = (
        docs.select(F.col(id_col), F.explode(pairs).alias("p"))
        .select(id_col, F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .where((F.col("w1") != "") & (F.col("w2") != ""))
    )
    from pyspark.sql.window import Window

    bc = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    # context counts as a window over the bigram counts (partition by
    # w1) instead of a separate aggregate + rejoin — one exchange
    # fewer, no join; bc is the per-bigram relation either way.
    c1 = F.sum("c2").over(Window.partitionBy("w1"))
    probs = bc.select(
        "w1",
        "w2",
        F.log(F.col("c2").cast("double") / c1).cast(DEC).alias("logp"),
    )
    scored = big.join(probs, ["w1", "w2"])
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.sum("logp").cast("double") / F.count(F.lit(1)), 6).alias(
            "avg_logprob"
        ),
    )


def token_entropy(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document Shannon entropy of the token distribution — the
    information-density quality signal (near-zero ≈ one token repeated;
    high ≈ diverse vocabulary). Complements the ratio-based repetition
    signals (:func:`repetition_signals`): entropy weighs HOW skewed the
    distribution is, not just its extremes.

    Plan: one hash aggregate keyed (doc, token) with map-side partials
    (the shuffle carries tokens+counts, never text bodies), then
    per-doc totals as a WINDOW over the aggregated relation, and the
    final groupBy reuses the window's hash partitioning on ``id_col``
    — two exchanges total (plan-asserted), both count-scale. Each term
    ``(c/n)·ln(c/n)`` is rounded to DECIMAL(38,6) BEFORE the per-doc
    sum (cross-engine ln ulp noise removed pre-aggregation; decimal
    addition is order-independent). The final value is computed as
    ``0 - sum`` rather than unary negation so a zero-entropy doc yields
    +0.0 on both engines (-0.0 and 0.0 hash differently).
    """
    from pyspark.sql.window import Window

    from proto_to_avro_ql_spark.functions.stable import DEC

    toks = docs.select(
        F.col(id_col),
        F.explode(TX.tokens(F.col(text_col))).alias("t"),
    )
    tc = toks.groupBy(id_col, "t").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy(id_col)
    p = F.col("c").cast("double") / F.sum("c").over(w)
    m = tc.select(
        F.col(id_col),
        F.sum("c").over(w).alias("n"),
        F.count(F.lit(1)).over(w).alias("nd"),
        (p * F.log(p)).cast(DEC).alias("term"),
    )
    return m.groupBy(id_col).agg(
        F.max("n").alias("n_tokens"),
        F.max("nd").alias("n_distinct"),
        F.round(F.lit(0.0) - F.sum("term").cast("double"), 6).alias("token_entropy"),
    )
