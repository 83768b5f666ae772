"""Document chunking and segment-level dedup (LLM training-data ops).

Pretraining pipelines slice documents into fixed-token windows (context
packing, long-doc splitting) and remove segments repeated across the
corpus (boilerplate: headers, license blocks, navigation text —
RefinedWeb/Falcon-style "line dedup", adapted to token windows because
the synthetic corpus has no newlines).

Scale design:
- Chunking is a NARROW per-row transform: split → sequence of window
  starts → explode → slice. No shuffle; Catalyst keeps it in one
  projection over the scan, so it runs at scan speed on any corpus.
- Segment dedup shuffles only ``(segment_hash, doc_id, chunk_idx)`` —
  never segment text — to pick the global first occurrence per hash
  (window row_number over the hash). Per-doc survival stats then
  aggregate on doc_id. Text stays columnar at the scan; the wide
  string never crosses the wire.

The reference has no segment ops (its unit is the proto message row —
ProtoToAvroTranslator.scala:26-33 translates row-at-a-time); these
extend SURVEY §2.9's corpus-cleaning surface.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from proto_to_avro_ql_spark.functions.text import normalize_text, tokens


def _tokens(col: Column) -> Column:
    """Whitespace tokens of the normalized text; blank → [] (Spark's
    split('', ' ') is [''], which would fabricate a chunk)."""
    return F.when(normalize_text(col) == "", F.array().cast("array<string>")).otherwise(
        tokens(col)
    )


def chunk_documents(
    docs: DataFrame,
    size: int = 50,
    stride: int = 40,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Fixed-size token windows with overlap (stride < size ⇒ the last
    ``size - stride`` tokens repeat into the next chunk, the standard
    pretraining-context overlap). One output row per (doc, window).

    Columns: id, chunk_idx (0-based window ordinal), chunk_tokens
    (actual token count — the final window may be short), chunk_text.
    """
    toks = _tokens(F.col(text_col))
    # Last window start: the first stride multiple whose window reaches
    # the end of the doc. Generating starts past it would emit windows
    # fully contained in their predecessor (redundant training rows) —
    # caught by the hypothesis coverage property.
    n = F.size("_toks")
    last = F.when(n <= size, F.lit(0)).otherwise(
        ((n - size + stride - 1) / stride).cast("bigint") * stride
    )
    starts = F.sequence(F.lit(0).cast("bigint"), last, F.lit(stride).cast("bigint"))
    chunked = (
        docs.select(F.col(id_col), toks.alias("_toks"))
        .where(F.size(F.col("_toks")) > 0)
        .select(
            id_col,
            "_toks",
            F.explode(starts).alias("_start"),
        )
        .select(
            id_col,
            (F.col("_start") / stride).cast("bigint").alias("chunk_idx"),
            F.slice(F.col("_toks"), F.col("_start") + 1, size).alias("_chunk"),
        )
    )
    return chunked.select(
        id_col,
        "chunk_idx",
        F.size("_chunk").alias("chunk_tokens"),
        F.array_join("_chunk", " ").alias("chunk_text"),
    )


def segment_dedup_stats(
    docs: DataFrame,
    seg_size: int = 25,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-wide exact segment dedup over non-overlapping token
    windows: a segment survives iff it is the globally FIRST occurrence
    of its text (ordered by doc id, then window ordinal — deterministic
    and engine-portable). Returns per-doc survival stats:
    (doc_id, n_segments, n_kept, kept_ratio).

    Only ``(md5(segment), id, idx)`` enters the dedup shuffle; the
    reassembled kept-text form is exercised in tests (arrays/strings
    stay out of oracle-hashed output per repo convention).
    """
    segs = chunk_documents(docs, size=seg_size, stride=seg_size, id_col=id_col, text_col=text_col)
    slim = segs.select(id_col, "chunk_idx", F.md5("chunk_text").alias("seg_hash"))
    w = Window.partitionBy("seg_hash").orderBy(F.col(id_col), F.col("chunk_idx"))
    decided = slim.withColumn("rn", F.row_number().over(w))
    return (
        decided.groupBy(id_col)
        .agg(
            F.count("*").alias("n_segments"),
            F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).alias("n_kept"),
        )
        .select(
            id_col,
            "n_segments",
            "n_kept",
            F.round(F.col("n_kept") / F.col("n_segments"), 6).alias("kept_ratio"),
        )
    )


def reassemble_kept(
    docs: DataFrame,
    seg_size: int = 25,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Kept-segment reassembly (the actual cleaned corpus): drop every
    non-first occurrence, stitch survivors back in window order.
    Text crosses the wire once, keyed by (id, idx) through the hash
    window — acceptable because reassembly is inherently a regroup;
    used by tests, not the oracle (array/long-string output)."""
    segs = chunk_documents(docs, size=seg_size, stride=seg_size, id_col=id_col, text_col=text_col)
    w = Window.partitionBy(F.md5("chunk_text")).orderBy(F.col(id_col), F.col("chunk_idx"))
    kept = segs.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    return (
        kept.groupBy(id_col)
        .agg(
            F.array_join(
                F.array_sort(
                    F.collect_list(F.struct("chunk_idx", "chunk_text"))
                ).chunk_text,
                " ",
            ).alias("kept_text"),
            F.count("*").alias("n_kept"),
        )
    )
