"""Text-analysis column functions for the training-data pipeline layer
(SURVEY.md §2.9; BASELINE.json north_star: text analysis at 100 TB).

Everything here is built-in-expression only (split/regexp/length/
aggregate) — JVM-side, whole-stage-codegen, no Python in the hot path.
Language-ID is an n-gram/stopword heuristic expressed as regexp counts
so it stays a narrow projection over the scan.

The tokenizer and the fragments built on it (non-empty tokens, adjacent
pairs, shingles, the stopword list) are written here once and rendered
twice: ``tokens`` etc. build the Spark ``Column``, ``tokens_sql`` etc.
the DuckDB SQL text the oracles embed. Entries call these instead of
spelling the fragments out, so an engine difference is fixed in one
place (tests/test_portable_kernel.py pins Spark == DuckDB on a string
grid, tests/test_portable_reference.py pins both to plain Python).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# --- normalization ---------------------------------------------------------


def normalize_text(col: Column) -> Column:
    """Canonical form for near-dup hashing: lowercase, collapse
    whitespace, trim."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def normalize_sql(col: str = "text") -> str:
    """DuckDB spelling of :func:`normalize_text`. Java's ``\\s`` matches
    the vertical tab (U+000B) and RE2's does not, so the class names it
    explicitly; both engines then collapse exactly [ \\t\\n\\v\\f\\r]."""
    return rf"trim(regexp_replace(lower({col}), '[\s\v]+', ' ', 'g'))"


# --- tokenization (one definition, rendered per engine) -------------------

STOPWORDS: tuple[str, ...] = ("the", "a", "and", "of", "to")


def tokens(col: Column) -> Column:
    """Whitespace tokens of the normalized text (blank text → [''])."""
    return F.split(normalize_text(col), " ")


def tokens_sql(col: str = "text") -> str:
    return f"string_split({normalize_sql(col)}, ' ')"


def nonempty_tokens(col: Column) -> Column:
    """:func:`tokens` without the empty token a blank text splits into."""
    return F.filter(tokens(col), lambda x: x != F.lit(""))


def nonempty_tokens_sql(col: str = "text") -> str:
    return f"list_filter({tokens_sql(col)}, x -> x <> '')"


def adjacent_pairs(arr: str) -> Column:
    """array<struct<v,w>> of the adjacent pairs of array column ``arr``
    ([] when it has fewer than two elements)."""
    return F.expr(
        f"CASE WHEN size({arr}) < 2"
        " THEN CAST(array() AS array<struct<v:string,w:string>>)"
        f" ELSE zip_with(slice({arr}, 1, size({arr}) - 1),"
        f" slice({arr}, 2, size({arr}) - 1),"
        " (x, y) -> named_struct('v', x, 'w', y)) END"
    )


def adjacent_pairs_sql(arr: str) -> str:
    """DuckDB select-list twin of :func:`adjacent_pairs` exploded: one
    row per pair, columns ``v`` and ``w``."""
    return f"unnest({arr}[1:len({arr})-1]) AS v, unnest({arr}[2:len({arr})]) AS w"


def joined_pairs(arr: str, sep: str = " ") -> Column:
    """array<string> of adjacent pairs of ``arr`` joined by ``sep``."""
    return F.expr(
        f"CASE WHEN size({arr}) < 2 THEN CAST(array() AS array<string>)"
        f" ELSE zip_with(slice({arr}, 1, size({arr}) - 1),"
        f" slice({arr}, 2, size({arr}) - 1),"
        f" (x, y) -> concat(x, '{sep}', y)) END"
    )


def joined_pairs_sql(arr: str, sep: str = " ") -> str:
    return (
        f"list_transform(list_zip({arr}[1:len({arr})-1], {arr}[2:len({arr})]),"
        f" p -> p[1] || '{sep}' || p[2])"
    )


def shingles(col: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of the normalized text; a text
    shorter than ``n`` tokens is one shingle (its whole token list)."""
    toks = tokens(col)
    return F.array_distinct(
        F.when(
            F.size(toks) >= n,
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - n),
                lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
            ),
        ).otherwise(F.array(F.concat_ws(" ", toks)))
    )


def _ngram_list_sql(arr: str, n: int) -> str:
    # DuckDB slices are 1-based and inclusive: arr[i:i+n-1] is n tokens
    return f"[array_to_string({arr}[i:i+{n - 1}], ' ') FOR i IN range(1, len({arr}) - {n - 2})]"


def ngrams_sql(arr: str, n: int) -> str:
    """DuckDB list of the word n-grams of token list ``arr`` in order,
    [] when it is shorter than ``n``."""
    return f"CASE WHEN len({arr}) >= {n} THEN {_ngram_list_sql(arr, n)} ELSE []::VARCHAR[] END"


def shingles_sql(arr: str, n: int = 3) -> str:
    """DuckDB twin of :func:`shingles` over token list ``arr``."""
    return (
        f"list_distinct(CASE WHEN len({arr}) >= {n} THEN {_ngram_list_sql(arr, n)}"
        f" ELSE [array_to_string({arr}, ' ')] END)"
    )


def fingerprint(col: Column) -> Column:
    """Document fingerprint: md5 of the normalized text (deterministic,
    engine-portable)."""
    return F.md5(normalize_text(col))


# --- stats -----------------------------------------------------------------


def char_length(col: Column) -> Column:
    return F.length(col)


def token_count_ws(col: Column) -> Column:
    """Whitespace tokenization count; empty/blank → 0."""
    return F.when(normalize_text(col) == "", F.lit(0)).otherwise(F.size(tokens(col)))


def token_count_ws_sql(col: str = "text") -> str:
    return f"CASE WHEN {normalize_sql(col)} = '' THEN 0 ELSE len({tokens_sql(col)}) END"


WORD_RE = "[A-Za-z0-9]+"


def token_count_word(col: Column) -> Column:
    """BPE-ish word-token count: alnum runs (sub-word punctuation splits,
    the cheap proxy for BPE pre-tokenization)."""
    return F.regexp_count(col, F.lit(WORD_RE))


# GPT-2-style pre-tokenizer, restricted to the regex subset Java
# (Spark) and RE2 (DuckDB) evaluate identically: contraction
# suffixes, space-prefixed letter runs, digit runs, and punctuation
# runs. The upstream pattern's trailing-whitespace lookahead is
# dropped (RE2 has no lookahead); whitespace between matches is
# simply not counted, which matches BPE accounting closely enough
# for budget estimation.
BPE_RE = r"'(?:s|d|m|t|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s']+"


def token_count_bpe(col: Column) -> Column:
    """BPE pre-tokenizer token count (the budget unit LLM pipelines
    plan with — closer to real tokenizer counts than whitespace
    splitting because punctuation and contractions split off)."""
    return F.regexp_count(col, F.lit(BPE_RE))


def token_count_bpe_sql(col: str = "text") -> str:
    """DuckDB twin of :func:`token_count_bpe` (``\\v`` as in :func:`normalize_sql`)."""
    pat = BPE_RE.replace("\\s", "\\s\\v").replace("'", "''")
    return f"len(regexp_extract_all({col}, '{pat}'))"


def punct_ratio(col: Column) -> Column:
    n = F.length(col)
    p = F.regexp_count(col, F.lit(r"[^A-Za-z0-9\s]"))
    return F.when(n == 0, F.lit(0.0)).otherwise(F.round(p / n, 6))


def punct_ratio_sql(col: str = "text") -> str:
    """DuckDB twin of :func:`punct_ratio` (``\\v`` as in :func:`normalize_sql`)."""
    return (
        f"CASE WHEN length({col}) = 0 THEN 0.0"
        rf" ELSE ROUND(CAST(len(regexp_extract_all({col}, '[^A-Za-z0-9\s\v]')) AS DOUBLE)"
        f" / length({col}), 6) END"
    )


def stopword_ratio(col: Column) -> Column:
    """Fraction of whitespace tokens that are (English) :data:`STOPWORDS`."""
    toks = tokens(col)
    hits = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    n = F.size(toks)
    return F.when(n == 0, F.lit(0.0)).otherwise(F.round(hits / n, 6))


def stopword_ratio_sql(col: str = "text") -> str:
    """DuckDB twin of :func:`stopword_ratio` over :data:`STOPWORDS`."""
    words = ", ".join(f"'{w}'" for w in STOPWORDS)
    return (
        f"CASE WHEN {normalize_sql(col)} = '' THEN 0.0"
        f" ELSE ROUND(CAST(len(list_filter({tokens_sql(col)}, x -> x IN ({words}))) AS DOUBLE)"
        f" / len({tokens_sql(col)}), 6) END"
    )


def quality_score(col: Column) -> Column:
    """Composite quality heuristic in [0,1]: length band + low punct +
    some stopwords (the classic cheap pre-filter before LLM training)."""
    n = F.length(col)
    len_ok = F.when((n >= 50) & (n <= 100000), F.lit(0.4)).otherwise(F.lit(0.0))
    punct_ok = F.when(punct_ratio(col) < 0.1, F.lit(0.3)).otherwise(F.lit(0.0))
    stop_ok = F.when(stopword_ratio(col) > 0.01, F.lit(0.3)).otherwise(F.lit(0.0))
    return F.round(len_ok + punct_ok + stop_ok, 2)


def quality_score_sql(col: str = "text") -> str:
    return (
        f"ROUND(CAST((CASE WHEN length({col}) BETWEEN 50 AND 100000 THEN 0.4 ELSE 0.0 END)"
        f" + (CASE WHEN ({punct_ratio_sql(col)}) < 0.1 THEN 0.3 ELSE 0.0 END)"
        f" + (CASE WHEN ({stopword_ratio_sql(col)}) > 0.01 THEN 0.3 ELSE 0.0 END) AS DOUBLE), 2)"
    )


# --- language id -----------------------------------------------------------

# Marker-word regexes per language (tiny n-gram heuristic; word-boundary
# anchored). Deterministic and SQL-portable.
LANG_MARKERS: dict[str, str] = {
    "en": r"\b(the|and|of|is|was|with)\b",
    "de": r"\b(der|die|das|und|ist|nicht)\b",
    "es": r"\b(el|la|los|las|es|para)\b",
    "fr": r"\b(le|les|des|est|une|avec)\b",
    "zh": r"[一-鿿]",
}


def lang_scores(col: Column) -> dict[str, Column]:
    low = F.lower(col)
    return {lang: F.regexp_count(low, F.lit(pat)) for lang, pat in LANG_MARKERS.items()}


def lang_id(col: Column) -> Column:
    """argmax over marker-hit counts, 'und' (undetermined) when all zero.
    Ties broken by language-code order for determinism."""
    scores = lang_scores(col)
    best = F.greatest(*scores.values())
    expr = F.lit("und")
    for lang in sorted(LANG_MARKERS, reverse=True):
        expr = F.when((scores[lang] == best) & (best > 0), F.lit(lang)).otherwise(expr)
    return expr
