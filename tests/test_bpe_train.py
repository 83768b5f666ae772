"""Third-implementation tests for ext_bpe_train.

The DuckDB oracle pins Spark↔DuckDB equality, but both engines run the
same replace-based merge formulation — a spec-level mistake mirrored
into both would survive the hash gate. This file re-implements BPE training
sequentially in plain Python (list-walk merges, dict pair counts — no
SQL, no replace trick) from the documented algorithm and pins:

1. the single-pass double-separator replace('·x··y·'→'·xy·') merge
   application equals the sequential greedy leftmost-first merge on
   adversarial inputs (odd runs of an identical pair — where a
   single-separator formulation provably deviates — back-to-back
   alternating runs, multi-char symbols);
2. the full entry's merge table equals the Python reference trained on
   the same corpus, re-derived here with pandas (not Spark), on the
   driver-side tail and on the distributed loop (``LOCAL_CUTOFF``
   patched to 0), including a corpus whose argmax ties at most steps.
"""

from __future__ import annotations

import random
import re

import duckdb
import pytest

from proto_to_avro_ql_spark.entry_queries import QUERIES
from proto_to_avro_ql_spark.operators import clustering as CL

SF = "/root/testdata/sf0.001"
SEP = "·"
EOW = "</w>"  # Sennrich end-of-word marker, fused onto the final char


def symbolize(word: str) -> list[str]:
    """'abc' → ['a', 'b', 'c</w>'] (the subword-nmt convention)."""
    syms = list(word)
    syms[-1] += EOW
    return syms


def ref_merge(tokens: list[str], x: str, y: str) -> list[str]:
    """Greedy leftmost-first merge of adjacent (x, y) → xy."""
    out, i = [], 0
    while i < len(tokens):
        if i + 1 < len(tokens) and tokens[i] == x and tokens[i + 1] == y:
            out.append(x + y)
            i += 2
        else:
            out.append(tokens[i])
            i += 1
    return out


def ref_bpe(wordcounts: dict[str, int], k: int) -> list[tuple[int, str, str, int]]:
    syms = {w: symbolize(w) for w in wordcounts}
    table = []
    for step in range(k):
        pc: dict[tuple[str, str], int] = {}
        for w, c in wordcounts.items():
            a = syms[w]
            for i in range(len(a) - 1):
                pc[(a[i], a[i + 1])] = pc.get((a[i], a[i + 1]), 0) + c
        if not pc:
            break
        (x, y), f = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        table.append((step + 1, x, y, f))
        for w in syms:
            syms[w] = ref_merge(syms[w], x, y)
    return table


def replace_merge(tokens: list[str], x: str, y: str) -> list[str]:
    """The engines' formulation: DOUBLE-separator-joined string, one
    pass of left-to-right non-overlapping replace — each match consumes
    only the inner separator of each boundary, so the scanner never
    eats the separator the next pair needs."""
    s = SEP * 2 + (SEP * 2).join(tokens) + SEP * 2
    s = s.replace(f"{SEP}{x}{SEP}{SEP}{y}{SEP}", f"{SEP}{x}{y}{SEP}")
    return [t for t in s.split(SEP * 2) if t]


class TestReplaceMergeEqualsGreedyMerge:
    def test_adversarial_shapes(self):
        cases = [
            ["a", "a", "a"],
            ["a", "a", "a", "a"],
            ["a", "a", "a", "a", "a"],
            ["x", "y", "x", "y", "x", "y"],
            ["x", "y", "x", "y", "x", "y", "x", "y"],
            ["y", "x", "y", "x", "y"],
            ["ab", "c", "ab", "c", "ab"],
            ["x", "y"],
            ["x"],
            [],
            ["y", "y", "x", "y", "x", "x"],
            ["a", "b", "c</w>"],
            ["a", "a</w>"],
            ["a", "a", "a</w>"],
        ]
        rules = [
            ("a", "a"),
            ("x", "y"),
            ("ab", "c"),
            ("y", "x"),
            ("b", "c</w>"),
            ("a", "a</w>"),
        ]
        for toks in cases:
            for x, y in rules:
                assert replace_merge(toks, x, y) == ref_merge(toks, x, y), (
                    toks,
                    x,
                    y,
                )

    def test_seeded_random_sequences(self):
        rng = random.Random(1016)
        alphabet = ["a", "b", "ab", "ba", "aa"]
        for _ in range(500):
            toks = [rng.choice(alphabet) for _ in range(rng.randrange(0, 12))]
            x, y = rng.choice(alphabet), rng.choice(alphabet)
            assert replace_merge(toks, x, y) == ref_merge(toks, x, y)


def sf_word_counts() -> dict[str, int]:
    """Independent corpus path: DuckDB reads the parquet, Python does
    the normalize/tokenize (mirroring normalize_text's documented
    lower/collapse/trim semantics)."""
    texts = [
        r[0]
        for r in duckdb.connect()
        .execute(f"SELECT text FROM '{SF}/documents.parquet'")
        .fetchall()
    ]
    wc: dict[str, int] = {}
    for t in texts:
        for tok in re.sub(r"\s+", " ", t.lower()).strip().split(" "):
            if tok and re.fullmatch(r"[a-z0-9]+", tok):
                wc[tok] = wc.get(tok, 0) + 1
    return wc


def merge_table(spark, sf_dir: str) -> list[tuple[int, str, str, int]]:
    return [
        (r["step"], r["merge_left"], r["merge_right"], r["freq"])
        for r in QUERIES["ext_bpe_train"](spark, sf_dir).collect()
    ]


class TestEntryAgainstPythonReference:
    def test_merge_table_matches(self, spark):
        assert merge_table(spark, SF) == ref_bpe(sf_word_counts(), 8)

    def test_distributed_merge_table_matches(self, spark, monkeypatch):
        monkeypatch.setattr(CL, "LOCAL_CUTOFF", 0)
        assert merge_table(spark, SF) == ref_bpe(sf_word_counts(), 8)


# Step 2 ties at freq 2 between (a, 0</w>), (a, b</w>) and (c, d</w>),
# broken on the right symbol ('0' < 'b'); steps 5-8 tie at freq 1
# between many pairs; '0' < '<' < 'a' puts digits before </w>.
TIE_DOCS = ["ab ab cd cd ba a0 a0", "a aaaa aaa xyxy yx 12 21"]


class TestBothPathsAgainstPythonReference:
    @pytest.mark.parametrize("distributed", [False, True], ids=["local", "distributed"])
    def test_tie_corpus(self, spark, tmp_path, monkeypatch, distributed):
        import pandas as pd

        pd.DataFrame(
            {"doc_id": range(len(TIE_DOCS)), "text": TIE_DOCS}
        ).to_parquet(tmp_path / "documents.parquet")
        wc: dict[str, int] = {}
        for t in TIE_DOCS:
            for tok in t.split(" "):
                wc[tok] = wc.get(tok, 0) + 1
        if distributed:
            monkeypatch.setattr(CL, "LOCAL_CUTOFF", 0)
        assert merge_table(spark, str(tmp_path)) == ref_bpe(wc, 8)


class TestEncodeAgainstPythonReference:
    def test_per_lang_subword_stats_match(self, spark):
        rows = (
            duckdb.connect()
            .execute(f"SELECT lang, text FROM '{SF}/documents.parquet'")
            .fetchall()
        )
        wc: dict[str, int] = {}
        wl: dict[tuple[str, str], int] = {}
        for lang, t in rows:
            for tok in re.sub(r"\s+", " ", t.lower()).strip().split(" "):
                if tok and re.fullmatch(r"[a-z0-9]+", tok):
                    wc[tok] = wc.get(tok, 0) + 1
                    wl[(lang, tok)] = wl.get((lang, tok), 0) + 1
        rules = [(x, y) for _, x, y, _ in ref_bpe(wc, 8)]
        ref: dict[str, tuple[int, int]] = {}
        for (lang, tok), c in wl.items():
            syms = symbolize(tok)
            for x, y in rules:
                syms = ref_merge(syms, x, y)
            nw, ns = ref.get(lang, (0, 0))
            ref[lang] = (nw + c, ns + len(syms) * c)
        expect = {
            lang: (nw, ns, ns * 1_000_000 // nw)
            for lang, (nw, ns) in ref.items()
        }
        got = {
            r["lang"]: (
                r["n_words"],
                r["n_subwords"],
                r["subwords_per_word_micro"],
            )
            for r in QUERIES["ext_bpe_encode"](spark, SF).collect()
        }
        assert got == expect
