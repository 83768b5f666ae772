"""Automated lint for the oracle-exactness invariants (ROADMAP.md
"Standing invariants").

Every driver correctness failure in rounds 1-3 traced to one of a
small set of cross-engine float/decimal patterns; the rules lived only
in prose, so a regression re-introducing one would cost a driver round
to catch (round-3 verdict, next-round #5). This lints the automatable
subset over every ORACLES entry AND the package source (Spark-side
F.expr strings use the same SQL surface):

R1 float-accumulated-aggregate: ``SUM(x)``/``AVG(x)`` where x
   references a FLOATING-POINT source column of the testdata schema
   (or an explicit ``AS DOUBLE`` cast) with no DECIMAL/HUGEINT
   accumulation. A float-accumulated sum is partial-aggregation-order
   dependent — the r01/r02 driver failures. Sanctioned route:
   functions/stable.py dec_sum/dec_avg + the matching DECIMAL(38,6)
   SQL. (``l_quantity`` is integer-valued in TPC-H — sums < 2^53 are
   exact in doubles — so it is exempt, as the standing invariants
   note for AVG-of-integer.)
R2 scaled-decimal-product: DECIMAL(38,s>0) x DECIMAL(38,s>0). The
   scale-2s product overflows precision 38 and each engine rounds the
   overflow its own way (ext_zipf_fit, r3s5). Sanctioned route: integer
   micros in DECIMAL(38,0)/HUGEINT.
R4 computed-to-scaled-decimal: ``CAST(<expr with * or /> AS
   DECIMAL(38,s>0))`` — Spark rounds the exact binary expansion,
   DuckDB the 1e6-scaled double (ext_ewma/ext_pagerank, r3s3).
   Exception: ``CAST(ROUND(...) AS DECIMAL...)`` — an already-rounded
   value is exact at its scale.
R6 shared-fragment copy (source only, ratchet at zero): each
   cross-engine fragment is written once, in the module that owns it,
   as a Spark builder plus its DuckDB twin — the text tokenizer, the
   adjacent-pair construction and the mix31 eval split in
   functions/text.py and functions/portable.py; the daily revenue
   cents in operators/timeseries.py; the co-purchase self-join and the
   label-propagation vote in operators/graphs.py; the held-out
   (is_eval, lang, v, w) bigram aggregate in operators/lexical.py; the
   min-label connected-components closure (local union-find and
   recursive CTE) in operators/clustering.py; the rounded cosine
   (Spark dot/norm fold and DuckDB list_cosine_similarity) in
   operators/simsearch.py; the per-group event totals (n_events,
   sum_value) in operators/windows.py. A hand-written copy
   anywhere else in the package can drift from its twin (the
   RE2-vs-Java vertical-tab split was such a drift).
R7 session-conf write (source only, ratchet at the allowlist): a
   ``conf.set``/``conf.unset`` in a package function changes the
   caller's session. Only the (module, function) pairs in
   CONF_WRITERS may write: the one entry is streaming's run_to_end,
   which scopes the state width around a query's start (Spark reads
   it from the session conf then) and restores it. Anything else takes a
   per-operation option (``.option(...)`` on the write) or a value
   the caller passes. No reader pins the session timezone: the
   parquet timestamps read as timestamp_ntz, which no session zone
   changes.
R8 bounded stream run (source only, ratchet at zero): a ``.trigger(``
   or ``awaitTermination(`` call in a package function other than
   streaming's run_to_end. Every bounded stream runs through that one
   function, so each runs under the same time limit and state width.

Non-automatable invariants (still prose-only, checked in review):
``ROUND(quotient)`` as a final aggregate step is only a straddle when
the quotient's INPUTS are order-dependent floats — type-blind regexes
cannot tell an exact-integer ratio (sanctioned, ubiquitous) from a
float one, and the float-input cases are what R1/R4 catch upstream;
SUM-of-int needing CAST AS BIGINT outside the SUM (type knowledge);
-0.0 folding via ``+ 0`` (value knowledge); len() vs size() int32
width (schema knowledge).

Usage: ``python -m tools.lint_oracles`` (exit 1 on violations); wired
into pytest as tests/test_lint_oracles.py.
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

# (entry_or_file, rule) pairs accepted after manual review, with the
# justification recorded here.
_SQUARE_OK = (
    "CAST(value*value AS DECIMAL(38,6)) in the moment kernels: the cast"
    " input is ONE IEEE multiply of raw bit-identical column values —"
    " both engines quantize the SAME double (HALF_UP == half-away for"
    " the non-negative square), unlike the forbidden derived-chain"
    " casts (scaled products/quotient chains). The pandas twin mirrors"
    " the exact semantics (Decimal(x*x).quantize HALF_UP). Verified"
    " green at sf0.1 (r4); R4 stays strict for new code."
)
_ENTROPY_OK = (
    "ext_entropy casts (c/n)*ln(c/n) per term: c, n exact ints; the"
    " only divergence source is the documented 1-ulp JVM-vs-DuckDB ln"
    " exposure (ROADMAP standing invariants), absorbed by the 6dp"
    " quantization. Verified green at sf0.1 (r4)."
)
ALLOW: dict[tuple[str, str], str] = {
    ("ext_zscore", "R4"): _SQUARE_OK,
    ("ext_ab_test", "R4"): _SQUARE_OK,
    ("udf_grouped_pandas", "R4"): _SQUARE_OK,
    ("ext_entropy", "R4"): _ENTROPY_OK,
    # the Spark-side mirrors of the same four entries live in the
    # registry source (F.expr strings + the pandas twin's comment-
    # documented kernel)
    ("proto_to_avro_ql_spark/entry_registry.py", "R4"): _SQUARE_OK,
    ("ext_mde_sizing", "R4"): _SQUARE_OK,
}

_FUNC_GUARDS = ("LN(", "LOG(", "LOG2(", "LOG10(", "EXP(", "SQRT(")


def _norm(sql: str) -> str:
    return re.sub(r"\s+", " ", sql).upper()


def _balanced(text: str, open_idx: int) -> str:
    """Return the contents of the paren group opening at open_idx."""
    depth = 0
    for i in range(open_idx, len(text)):
        if text[i] == "(":
            depth += 1
        elif text[i] == ")":
            depth -= 1
            if depth == 0:
                return text[open_idx + 1 : i]
    return text[open_idx + 1 :]


def _top_level(expr: str) -> str:
    """Strip every parenthesized group, leaving depth-0 text only."""
    out, depth = [], 0
    for ch in expr:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif depth == 0:
            out.append(ch)
    return "".join(out)


def _outside_guards(expr: str) -> str:
    """Text of expr with the argument lists of LN/LOG/EXP/SQRT removed
    (divisions inside them are the sanctioned rounded-ln kernel)."""
    up = expr
    for guard in _FUNC_GUARDS:
        while True:
            idx = up.find(guard)
            if idx < 0:
                break
            inner = _balanced(up, idx + len(guard) - 1)
            # splice by INDEX, not str.replace: on an unbalanced guard
            # (no closing paren) _balanced returns the rest-of-text
            # fallback, "guard+inner+)" matches nothing, and a replace
            # no-op would spin this loop forever on the same idx
            end = idx + len(guard) + len(inner)
            if end < len(up) and up[end] == ")":
                end += 1  # the balanced close, consumed with the args
            up = up[:idx] + guard[:-1] + "⟨⟩" + up[end:]
    return up


# Floating-point columns of the fixed testdata schema (TESTDATA.md).
# l_quantity is integer-valued (exact in doubles), so exempt.
_FLOAT_COLS = (
    "C_ACCTBAL",
    "S_ACCTBAL",
    "P_RETAILPRICE",
    "O_TOTALPRICE",
    "L_EXTENDEDPRICE",
    "L_DISCOUNT",
    "L_TAX",
    "VALUE",
    "EMBEDDING",
)
_FLOAT_REF = re.compile(
    r"\b(" + "|".join(_FLOAT_COLS) + r")\b|AS\s+DOUBLE|AS\s+FLOAT|AS\s+REAL"
)


def find_violations(sql: str) -> list[str]:
    """All invariant violations in one SQL (or F.expr) string."""
    out: list[str] = []
    up = _norm(sql)

    # R1: SUM/AVG accumulating a float column (or explicit double
    # cast) without DECIMAL/HUGEINT accumulation. Two exemptions:
    # .cast(DEC)/.cast(D38) — the Spark-side decimal constants from
    # functions/stable.py; and windowed sums (SUM(x) OVER (ORDER BY)
    # accumulates in deterministic frame order on both engines — the
    # order-dependence is a property of parallel partial aggregation).
    for m in re.finditer(r"\b(SUM|AVG)\s*\(", up):
        arg = _balanced(up, m.end() - 1)
        tail = up[m.end() + len(arg) + 1 : m.end() + len(arg) + 8]
        if re.match(r"\s*\.?\s*OVER\b", tail):
            continue
        # a float column inside a CASE *predicate* guards an integer
        # summand — only the accumulated value's type matters. Cover
        # both spellings: SQL `WHEN <pred> THEN` and the Spark-side
        # `F.when(<float-col comparison>, <int>)` (a comparison is a
        # predicate, never the accumulated value — r4s2).
        summand = re.sub(r"\bWHEN\b.*?\bTHEN\b", "WHEN ⟨⟩ THEN", arg)
        summand = re.sub(
            r'F\.COL\("[A-Z0-9_]+"\)\s*(?:[<>]=?|==)\s*[0-9.E+-]+', "⟨⟩", summand
        )
        if _FLOAT_REF.search(summand) and not re.search(
            r"DECIMAL|HUGEINT|CAST\s*\(\s*(DEC|D38)\s*\)", summand
        ):
            out.append(
                f"R1 float-accumulated-aggregate: {m.group(1)}({arg[:60]}…)"
            )

    # R2: scaled-decimal x scaled-decimal product (textual form)
    if re.search(
        r"DECIMAL\s*\(\s*38\s*,\s*[1-9]\d*\s*\)\s*\)\s*\*\s*CAST\b[^)]*"
        r"DECIMAL\s*\(\s*38\s*,\s*[1-9]\d*\s*\)",
        up,
    ):
        out.append("R2 scaled-decimal-product: DECIMAL(38,s>0) * DECIMAL(38,s>0)")

    # R4: computed (* or /) expression cast to a scaled decimal
    for m in re.finditer(r"CAST\s*\(", up):
        arg = _balanced(up, m.end() - 1)
        # split at the LAST depth-0 " AS "
        depth, as_idx = 0, -1
        for i in range(len(arg) - 3):
            if arg[i] == "(":
                depth += 1
            elif arg[i] == ")":
                depth -= 1
            elif depth == 0 and arg[i : i + 4] == " AS ":
                as_idx = i
        if as_idx < 0:
            continue
        target, inner = arg[as_idx + 4 :], arg[:as_idx].strip()
        if not re.search(r"DECIMAL\s*\(\s*\d+\s*,\s*[1-9]\d*\s*\)", target):
            continue
        if inner.startswith("ROUND"):
            continue  # already rounded → exact at its scale
        flat = _top_level(_outside_guards(inner))
        if re.search(r"(?<!/)/(?!/)|\*", flat):
            out.append(f"R4 computed-to-scaled-decimal: CAST({arg[:60]}…)")

    return out


_SOURCE_GLOBS = [
    "proto_to_avro_ql_spark/**/*.py",
]

# R6: each shared fragment kind, the module(s) that own it, and the
# pattern of a hand-written copy (Spark spelling | DuckDB spelling).
_TEXT_OWNERS = (
    "proto_to_avro_ql_spark/functions/text.py",
    "proto_to_avro_ql_spark/functions/portable.py",
)
_GRAPHS = ("proto_to_avro_ql_spark/operators/graphs.py",)
FRAGMENTS: dict[str, tuple[tuple[str, ...], re.Pattern]] = {
    "tokenizer": (_TEXT_OWNERS, re.compile(
        r"split\(\s*(?:\w+\.)?normalize_text\("  # Spark split of normalized text
        r"|regexp_replace\((?:[^'\"\n]|\"[^\"\n]*\")*?,"
        r"\s*r?['\"](?:\\{1,2}s\+|\[\\{1,2}s)"  # whitespace collapse
    )),
    "adjacent pairs": (_TEXT_OWNERS, re.compile(
        r"zip_with\(\s*(?:F\.)?slice\(|\[1:len\((\w+)\)\s*-\s*1\]"
    )),
    "eval split": (_TEXT_OWNERS, re.compile(r"mix\w*[^\n]*%\s*5\s*==?\s*0")),
    "daily cents": (("proto_to_avro_ql_spark/operators/timeseries.py",), re.compile(
        r'cast\("date"\)\.alias\("day"\)\s*\)\.agg\(\s*'
        r'F\.round\(F\.sum\(F\.col\("value"\)\.cast\(DEC\)\)\s*\*\s*100'
        r"|(?i:CAST\(ts AS DATE\) AS day,\s*"
        r"CAST\(ROUND\(SUM\(CAST\(value AS DECIMAL\(38,\s*6\)\)\)\s*\*\s*100)"
    )),
    "co-purchase self-join": (_GRAPHS, re.compile(
        r"(?i:\.pk AS u,\s*\w+\.pk AS v\s+FROM\s+\w+\s+\w+\s+JOIN\s+\w+\s+\w+"
        r"\s+ON\s+\w+\.ok\s*=\s*\w+\.ok)"
    )),
    "label vote": (_GRAPHS, re.compile(
        r'partitionBy\("node"\)\.orderBy\(F\.desc\("c"\),\s*"label"\)'
        r"|(?i:ORDER BY COUNT\(\*\) DESC,\s*\w+\.label\))"
    )),
    "held-out bigram aggregate": (("proto_to_avro_ql_spark/operators/lexical.py",), re.compile(
        r'groupBy\(\s*"is_eval",\s*"lang",\s*"v",\s*"w"\s*\)'
        r"|(?i:SELECT is_eval, lang, v, w, COUNT\(\*\))"
    )),
    # a union-find loop | the closure's recursive step over sym(src, dst)
    "min-label closure": (("proto_to_avro_ql_spark/operators/clustering.py",), re.compile(
        r"while\s+parent(?:\[|\.get\()"
        r"|(?i:SELECT\s+(\w+)\.src,\s*(\w+)\.lab\s+FROM\s+\w+\s+\1\s+"
        r"JOIN\s+\2\s+ON\s+\2\.id\s*=\s*\1\.dst)"
    )),
    # round(dot(a, b) / (na * nb), 6) | ROUND(list_cosine_similarity(...), 6)
    "rounded cosine": (("proto_to_avro_ql_spark/operators/simsearch.py",), re.compile(
        r"(?i:round\(\s*(?:\w+\.)?(?:dot|list_cosine_similarity)\()"
    )),
    "event totals": (("proto_to_avro_ql_spark/operators/windows.py",), re.compile(
        r'F\.count\((?:F\.lit\(1\)|"\*")\)\.alias\("n_events"\),\s*'
        r'dec_sum\((?:"value"|\w+),\s*4\)\.alias\("sum_value"\)'
        r"|(?i:COUNT\(\*\) AS n_events,\s*"
        r"CAST\(ROUND\(SUM\(CAST\(value AS DECIMAL\(38,\s*6\)\)\),\s*4\) AS DOUBLE\)"
        r"\s+AS sum_value)"
    )),
}


# R7: the only package functions that may write a session conf.
STREAM_RUNNER = ("proto_to_avro_ql_spark/streaming/events.py", "run_to_end")
CONF_WRITERS = {STREAM_RUNNER: "scoped save/restore of spark.sql.shuffle.partitions"}


def _calls_by_function(source: str):
    """(enclosing function name, call node) for every call in
    ``source``; module-level calls are under ''."""
    import ast

    def visit(node: ast.AST, func: str):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                yield from visit(child, child.name)
                continue
            if isinstance(child, ast.Call):
                yield func, child
            yield from visit(child, func)

    return visit(ast.parse(source), "")


def find_conf_writes(source: str, rel: str) -> list[str]:
    """R7 hits in one package source file: ``<x>.conf.set``/``unset``
    calls outside the CONF_WRITERS functions."""
    import ast

    hits: list[str] = []
    for func, call in _calls_by_function(source):
        f = call.func
        if (
            isinstance(f, ast.Attribute)
            and f.attr in ("set", "unset")
            and isinstance(f.value, ast.Attribute)
            and f.value.attr == "conf"
            and (rel, func) not in CONF_WRITERS
        ):
            hits.append(
                f"R7 session-conf write in {func or '<module>'}"
                f" (line {call.lineno}): {ast.unparse(call)[:60]}"
            )
    return hits


def find_stream_runs(source: str, rel: str) -> list[str]:
    """R8 hits in one package source file: one per function, other than
    STREAM_RUNNER, that calls ``.trigger(`` or ``awaitTermination(``."""
    import ast

    first: dict[str, int] = {}
    for func, call in _calls_by_function(source):
        if (
            isinstance(call.func, ast.Attribute)
            and call.func.attr in ("trigger", "awaitTermination")
            and (rel, func) != STREAM_RUNNER
        ):
            first.setdefault(func, call.lineno)
    return [
        f"R8 bounded stream run in {func or '<module>'} (line {line})"
        for func, line in first.items()
    ]


def _strip_comments(source: str) -> str:
    import io
    import tokenize

    try:
        toks = list(tokenize.generate_tokens(io.StringIO(source).readline))
    except (tokenize.TokenError, SyntaxError):
        return source
    lines = source.splitlines(keepends=True)
    for t in reversed(toks):
        if t.type == tokenize.COMMENT:
            row, col = t.start
            lines[row - 1] = lines[row - 1][:col] + "\n"
    return "".join(lines)


def find_fragment_copies(source: str, rel: str = "") -> list[str]:
    """R6 hits in one package source file ``rel`` (docstrings and
    comments are prose, not copies); a file is not checked for the
    kinds it owns."""
    text = _strip_comments(_strip_docstrings(source))
    return [
        f"R6 shared-fragment copy ({kind}): {m.group(0)[:60]}"
        for kind, (owners, pat) in FRAGMENTS.items()
        if rel not in owners
        for m in pat.finditer(text)
    ]


def _strip_docstrings(source: str) -> str:
    """Blank out module/class/function docstrings (prose like
    'sum(value)' in a docstring is not an aggregation plan)."""
    import ast

    try:
        tree = ast.parse(source)
    except SyntaxError:
        return source
    lines = source.splitlines(keepends=True)
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            body = getattr(node, "body", [])
            if (
                body
                and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)
            ):
                doc = body[0].value
                for ln in range(doc.lineno - 1, doc.end_lineno):
                    lines[ln] = "\n"
    return "".join(lines)


def lint_all(repo_root: str | Path | None = None) -> dict[str, list[str]]:
    """entry/file → violations, over ORACLES and the package source."""
    root = Path(repo_root) if repo_root else Path(__file__).resolve().parent.parent
    sys.path.insert(0, str(root))
    from proto_to_avro_ql_spark.entry_queries import ORACLES

    bad: dict[str, list[str]] = {}
    for name, sql in ORACLES.items():
        hits = [
            h
            for h in find_violations(sql)
            if (name, h.split(" ", 1)[0]) not in ALLOW
        ]
        # R5 pure-SELECT (r6 ADVICE, r7 ADVICE): the oracle gate shares
        # one DuckDB connection per sf_dir, so an oracle issuing SET/
        # CREATE/INSTALL/INSERT would leak state into every later
        # entry's verification. The first-token form of this check both
        # passed CTE-prefixed DML ('WITH c AS (...) INSERT ...') and
        # false-rejected comment-prefixed oracles; classify via the
        # DuckDB parser instead, mirroring oracle_check.duckdb_run.
        try:
            import duckdb

            stmts = duckdb.extract_statements(sql)
            if len(stmts) != 1 or stmts[0].type != duckdb.StatementType.SELECT:
                kinds = [str(s.type) for s in stmts]
                hits.append(
                    f"R5 non-SELECT oracle: parser saw {kinds} — side effects "
                    "would leak through the shared per-sf_dir connection"
                )
        except duckdb.Error as exc:  # unparseable SQL is its own failure
            hits.append(f"R5 oracle does not parse: {exc}")
        if hits:
            bad[name] = hits
    # Spark-side: the same SQL surface appears in F.expr/selectExpr
    # strings; entry_registry's ORACLES are already covered above, so
    # only scan non-oracle string content = every other source file.
    for pattern in _SOURCE_GLOBS:
        for path in sorted(root.glob(pattern)):
            if path.name == "entry_queries.py":
                continue
            rel = str(path.relative_to(root))
            text = _strip_docstrings(path.read_text())
            if rel.endswith("entry_registry.py"):
                # oracles (covered above, keyed by entry) are the odd
                # strings out here; strip them before the raw scan
                for sql in ORACLES.values():
                    text = text.replace(sql, "")
            hits = [
                h
                for h in find_violations(text)
                if (rel, h.split(" ", 1)[0]) not in ALLOW
            ]
            hits += find_fragment_copies(path.read_text(), rel)
            hits += find_conf_writes(path.read_text(), rel)
            hits += find_stream_runs(path.read_text(), rel)
            if hits:
                bad[rel] = hits
    return bad


def main() -> int:
    bad = lint_all()
    for name, hits in sorted(bad.items()):
        for h in hits:
            print(f"VIOLATION {name}: {h}")
    print(f"lint_oracles: {len(bad)} offender(s)")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
