"""Property-based parity: a row-at-a-time Python interpreter of the
reference semantics (the spirit of ProtoToAvroTranslator.translate)
fuzzed against the compiled Catalyst plan — hypothesis generates nested
rows with nulls/empties; both executions must agree exactly.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row
from pyspark.sql import types as T

from proto_to_avro_ql_spark.plans.compile import compile_projection

SCHEMA = T.StructType(
    [
        T.StructField(
            "a",
            T.StructType(
                [
                    T.StructField("i", T.LongType()),
                    T.StructField("s", T.StringType()),
                    T.StructField("b", T.BooleanType()),
                    T.StructField(
                        "inner",
                        T.StructType(
                            [
                                T.StructField("x", T.LongType()),
                                T.StructField("y", T.StringType()),
                            ]
                        ),
                    ),
                ]
            ),
        ),
        T.StructField("arr", T.ArrayType(T.LongType())),
        T.StructField(
            "items",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("p", T.LongType()),
                        T.StructField("q", T.StringType()),
                    ]
                )
            ),
        ),
        T.StructField("top", T.StringType()),
    ]
)

PATH_POOL = [
    "a.i", "a.s", "a.b", "a.inner.x", "a.inner.y", "a.inner", "a",
    "arr", "top", "items", "items.p", "items.q",
]


def interpret_leaf(value, dtype):
    """Reference getRowField semantics (§1.3)."""
    if isinstance(dtype, (T.LongType, T.IntegerType)):
        return 0 if value is None else value
    if isinstance(dtype, T.BooleanType):
        return False if value is None else value
    if isinstance(dtype, T.StringType):
        return None if value in (None, "") else value
    if isinstance(dtype, T.ArrayType):
        return [] if value is None else value
    raise AssertionError(dtype)


def interpret_array_of_struct(value, elem: T.StructType, keep):
    if value is None:
        return []
    sub_keep = keep if keep is not None else {c.name: None for c in elem.fields}
    return [interpret_struct(v, elem, sub_keep) for v in value]


def interpret_struct(value, struct: T.StructType, keep: dict):
    """keep: {field_name: sub_keep_or_None}; None → full subtree."""
    if value is None:
        return None
    out = {}
    for name in sorted(keep):
        f = struct[name]
        sub = keep[name]
        v = value.get(name) if isinstance(value, dict) else getattr(value, name)
        if isinstance(f.dataType, T.StructType):
            sub_keep = sub if sub is not None else {
                c.name: None for c in f.dataType.fields
            }
            out[name] = interpret_struct(v, f.dataType, sub_keep)
        elif isinstance(f.dataType, T.ArrayType) and isinstance(
            f.dataType.elementType, T.StructType
        ):
            out[name] = interpret_array_of_struct(v, f.dataType.elementType, sub)
        else:
            out[name] = interpret_leaf(v, f.dataType)
    return out


def interpret(row: dict, paths: list[str]):
    keep: dict = {}
    for p in paths:
        parts = p.split(".")
        node = keep
        for i, part in enumerate(parts):
            if i == len(parts) - 1:
                node[part] = None  # terminating path → full subtree wins
            else:
                if node.get(part) is None and part in node:
                    break  # already full subtree
                node = node.setdefault(part, {})
    result = {}
    for head in sorted(keep):
        f = SCHEMA[head]
        v = row.get(head)
        if isinstance(f.dataType, T.StructType):
            sub = keep[head] if keep[head] is not None else {
                c.name: None for c in f.dataType.fields
            }
            result[head] = interpret_struct(v, f.dataType, sub)
        elif isinstance(f.dataType, T.ArrayType) and isinstance(
            f.dataType.elementType, T.StructType
        ):
            result[head] = interpret_array_of_struct(
                v, f.dataType.elementType, keep[head]
            )
        else:
            result[head] = interpret_leaf(v, f.dataType)
    return result


def spark_value(v):
    if isinstance(v, Row):
        return {k: spark_value(x) for k, x in v.asDict().items()}
    if isinstance(v, list):
        return [spark_value(x) for x in v]
    return v


row_strategy = st.fixed_dictionaries(
    {
        "a": st.one_of(
            st.none(),
            st.fixed_dictionaries(
                {
                    "i": st.one_of(st.none(), st.integers(-100, 100)),
                    "s": st.one_of(st.none(), st.sampled_from(["", "x", "hello"])),
                    "b": st.one_of(st.none(), st.booleans()),
                    "inner": st.one_of(
                        st.none(),
                        st.fixed_dictionaries(
                            {
                                "x": st.one_of(st.none(), st.integers(-5, 5)),
                                "y": st.one_of(st.none(), st.sampled_from(["", "z"])),
                            }
                        ),
                    ),
                }
            ),
        ),
        "arr": st.one_of(st.none(), st.lists(st.integers(0, 9), max_size=3)),
        "items": st.one_of(
            st.none(),
            st.lists(
                st.fixed_dictionaries(
                    {
                        "p": st.one_of(st.none(), st.integers(0, 9)),
                        "q": st.one_of(st.none(), st.sampled_from(["", "w"])),
                    }
                ),
                max_size=2,
            ),
        ),
        "top": st.one_of(st.none(), st.sampled_from(["", "t"])),
    }
)

paths_strategy = st.lists(
    st.sampled_from(PATH_POOL), min_size=1, max_size=5, unique=True
).filter(
    # "a" (full subtree) combined with deeper a.* paths is allowed — the
    # terminating path wins; the interpreter models that, keep both.
    lambda ps: True
)


@pytest.mark.usefixtures("spark")
class TestInterpreterParity:
    @settings(
        max_examples=25,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(rows=st.lists(row_strategy, min_size=1, max_size=4), paths=paths_strategy)
    def test_compiled_plan_matches_interpreter(self, spark, rows, paths):
        df = spark.createDataFrame(
            [self.to_row(r) for r in rows], SCHEMA
        )
        out = compile_projection(df, paths)
        got = [
            {k: spark_value(v) for k, v in r.asDict().items()}
            for r in out.collect()
        ]
        expected = [interpret(r, paths) for r in rows]
        assert got == expected

    @staticmethod
    def to_row(d):
        def conv(v):
            if isinstance(v, dict):
                return Row(**{k: conv(x) for k, x in v.items()})
            return v

        return Row(**{k: conv(v) for k, v in d.items()})


# ---- user-defined mapping surface (Constant / Scalar / SynthStruct) ----

from proto_to_avro_ql_spark.plans.compile import Constant, Scalar, SynthStruct  # noqa: E402

SCALAR_PATHS = ["a.i", "a.s", "a.inner.x", "top"]


def leaf_dtype(path: str):
    dt = SCHEMA
    for part in path.split("."):
        dt = dt[part].dataType
    return dt


def interpret_scalar(row: dict, path: str):
    v = row
    for part in path.split("."):
        if v is None:
            break
        v = v.get(part)
    return interpret_leaf(v, leaf_dtype(path))


mapping_strategy = st.dictionaries(
    keys=st.sampled_from(["m_const", "m_lift", "m_meta"]),
    values=st.none(),
    max_size=3,
)


@pytest.mark.usefixtures("spark")
class TestMappingParity:
    @settings(
        max_examples=15,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        rows=st.lists(row_strategy, min_size=1, max_size=3),
        const_val=st.one_of(st.none(), st.integers(-9, 9)),
        lift_path=st.sampled_from(SCALAR_PATHS),
        meta_path=st.sampled_from(SCALAR_PATHS),
    )
    def test_mappings_match_interpreter(self, spark, rows, const_val, lift_path, meta_path):
        df = spark.createDataFrame(
            [TestInterpreterParity.to_row(r) for r in rows], SCHEMA
        )
        out = compile_projection(
            df,
            ["a.b"],
            mappings={
                "m_const": Constant(const_val, "long"),
                "m_lift": Scalar(lift_path),
                "m_meta": SynthStruct(
                    {"author": Constant("Ben"), "lifted": Scalar(meta_path)}
                ),
            },
        )
        got = [
            {k: spark_value(v) for k, v in r.asDict().items()} for r in out.collect()
        ]
        expected = [
            {
                "a": (None if r["a"] is None else {"b": interpret_leaf(r["a"]["b"], T.BooleanType())}),
                "m_const": const_val,
                "m_lift": interpret_scalar(r, lift_path),
                "m_meta": {"author": "Ben", "lifted": interpret_scalar(r, meta_path)},
            }
            for r in rows
        ]
        assert got == expected


class TestChunkingProperties:
    """Chunking invariants over arbitrary token streams."""

    @settings(
        max_examples=20,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        n_tokens=st.integers(min_value=0, max_value=200),
        size=st.integers(min_value=2, max_value=60),
        overlap=st.integers(min_value=0, max_value=30),
    )
    def test_cover_and_overlap_invariants(self, spark, n_tokens, size, overlap):
        from proto_to_avro_ql_spark.operators.segments import chunk_documents

        overlap = min(overlap, size - 1)
        stride = size - overlap
        text = " ".join(f"t{i}" for i in range(n_tokens))
        docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
        chunks = sorted(
            chunk_documents(docs, size=size, stride=stride).collect(),
            key=lambda r: r.chunk_idx,
        )
        if n_tokens == 0:
            assert chunks == []
            return
        # window count: starts at stride multiples up to the FIRST
        # window that reaches the end (no fully-contained tails)
        if n_tokens <= size:
            assert len(chunks) == 1
        else:
            assert len(chunks) == -((n_tokens - size) // -stride) + 1
        # every token covered, in order, exactly once after removing overlap
        rebuilt = chunks[0].chunk_text.split()
        for c in chunks[1:]:
            toks = c.chunk_text.split()
            assert toks[:overlap] == rebuilt[-overlap:] if overlap else True
            rebuilt.extend(toks[overlap:])
        assert rebuilt == text.split()
        # no chunk exceeds size; only the last may be short
        assert all(c.chunk_tokens <= size for c in chunks)
        assert all(c.chunk_tokens == size for c in chunks[:-1]) or len(chunks) == 1


class TestSession3Properties:
    @settings(
        max_examples=15,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        vals=st.lists(
            st.one_of(st.none(), st.floats(min_value=-100, max_value=100, allow_nan=False)),
            min_size=1,
            max_size=30,
        ),
        n_users=st.integers(min_value=1, max_value=3),
    )
    def test_forward_fill_matches_pandas_ffill(self, spark, vals, n_users):
        import datetime as dt

        import pandas as pd

        from pyspark.sql import functions as F

        from proto_to_avro_ql_spark.operators.timeseries import forward_fill

        t0 = dt.datetime(2024, 1, 1)
        rows = [
            (i, t0 + dt.timedelta(seconds=i), i % n_users, v)
            for i, v in enumerate(vals)
        ]
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp_ntz, user_id long, value double"
        )
        got = {
            r.event_id: r.f
            for r in df.select(
                "event_id", forward_fill(df, F.col("value")).alias("f")
            ).collect()
        }
        pdf = pd.DataFrame(rows, columns=["event_id", "ts", "user_id", "value"])
        exp = pdf.assign(f=pdf.groupby("user_id")["value"].ffill())
        for _, row in exp.iterrows():
            want = None if pd.isna(row.f) else row.f
            assert got[row.event_id] == want

    @settings(
        max_examples=15,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        names=st.lists(
            st.text(alphabet="abc x", min_size=1, max_size=8).map(str.strip).filter(bool),
            min_size=1,
            max_size=12,
        )
    )
    def test_fuzzy_join_matches_bruteforce_within_blocks(self, spark, names):
        from proto_to_avro_ql_spark.operators.fuzzy import fuzzy_name_matches

        df = spark.createDataFrame([(n,) for n in names], "p_name string")
        got = {
            (r.name_a, r.name_b): (r.dist, r.n_pairs)
            for r in fuzzy_name_matches(df, "p_name", 1, 3).collect()
        }

        # brute-force reference (python Levenshtein) over same-block pairs
        def lev(a, b):
            prev = list(range(len(b) + 1))
            for i, ca in enumerate(a, 1):
                cur = [i]
                for j, cb in enumerate(b, 1):
                    cur.append(
                        min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
                    )
                prev = cur
            return prev[-1]

        from collections import Counter

        cnt = Counter(names)
        vocab = sorted(cnt)
        want = {}
        for i, a in enumerate(vocab):
            for b in vocab[i + 1 :]:
                if a.split(" ")[0] != b.split(" ")[0]:
                    continue
                d = lev(a, b)
                if 1 <= d <= 3:
                    want[(a, b)] = (d, cnt[a] * cnt[b])
        assert got == want


class TestBandedRankProperties:
    """banded_global_rank + ntile_from_rank vs Spark's native global
    window — exact equality on fuzzed key distributions (skew, ties in
    the band, single band, more tiles than rows)."""

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        keys=st.lists(
            st.integers(min_value=0, max_value=5), min_size=1, max_size=60
        ),
        n_tiles=st.sampled_from([1, 3, 7, 64]),
    )
    def test_matches_native_ntile(self, spark, keys, n_tiles):
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from proto_to_avro_ql_spark.operators.layout import (
            banded_global_rank,
            ntile_from_rank,
        )

        rows = [Row(k=k, uid=i) for i, k in enumerate(keys)]
        df = spark.createDataFrame(rows, "k long, uid long")
        banded = banded_global_rank(
            df, F.col("k"), [F.col("k"), F.col("uid")], "r"
        )
        n = df.count()
        mine = banded.select(
            "uid",
            ntile_from_rank(F.col("r"), F.lit(n), n_tiles).alias("t"),
        )
        native = df.select(
            "uid",
            (F.ntile(n_tiles).over(Window.orderBy("k", "uid")) - 1)
            .cast("bigint")
            .alias("t_ref"),
        )
        joined = mine.join(native, "uid")
        assert joined.where(F.col("t") != F.col("t_ref")).count() == 0


class TestResizeProperties:
    """resize_nn vs an independent per-image numpy reference — fuzzed
    shapes and payload contents."""

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        dims=st.tuples(
            st.integers(min_value=1, max_value=9),   # in_w
            st.integers(min_value=1, max_value=9),   # in_h
            st.integers(min_value=1, max_value=12),  # out_w
            st.integers(min_value=1, max_value=12),  # out_h
        ),
        seed=st.integers(min_value=0, max_value=2**31 - 1),
    )
    def test_matches_per_pixel_reference(self, spark, dims, seed):
        import numpy as np

        from proto_to_avro_ql_spark.operators.multimodal import resize_nn

        in_w, in_h, out_w, out_h = dims
        rng = np.random.RandomState(seed)
        img = rng.randint(0, 256, size=(in_h, in_w), dtype=np.uint8)
        df = spark.createDataFrame(
            [(1, img.tobytes())], "event_id long, blob binary"
        )
        got = np.frombuffer(
            resize_nn(df, in_w, in_h, out_w, out_h).collect()[0].resized,
            dtype=np.uint8,
        ).reshape(out_h, out_w)
        # independent scalar reference (no fancy indexing)
        for i in range(out_h):
            for j in range(out_w):
                assert got[i, j] == img[(i * in_h) // out_h, (j * in_w) // out_w]


class TestEntropyProperties:
    """token_entropy vs an independent Python computation; invariance
    under token order."""

    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        toks=st.lists(
            st.sampled_from(["a", "b", "cc", "ddd", "e"]),
            min_size=1,
            max_size=30,
        ),
        seed=st.integers(min_value=0, max_value=999),
    )
    def test_matches_reference_and_is_order_invariant(self, spark, toks, seed):
        import math
        import random

        from proto_to_avro_ql_spark.operators.governance import token_entropy

        shuffled = toks[:]
        random.Random(seed).shuffle(shuffled)
        docs = spark.createDataFrame(
            [(1, " ".join(toks)), (2, " ".join(shuffled))],
            "doc_id long, text string",
        )
        rows = {r.doc_id: r for r in token_entropy(docs).collect()}
        n = len(toks)
        ref = 0.0
        for t in set(toks):
            p = toks.count(t) / n
            # mirror the operator's DECIMAL(38,6) per-term rounding
            ref -= round(p * math.log(p), 6)
        assert rows[1].n_tokens == n
        assert rows[1].token_entropy == pytest.approx(round(ref, 6), abs=2e-6)
        # permutation invariance: a bag-of-tokens statistic
        assert rows[1].token_entropy == rows[2].token_entropy
        assert rows[1].n_distinct == rows[2].n_distinct


class TestGraphProperties:
    """Fuzz the degree-oriented triangle machinery against brute force:
    per-edge common-neighbor counts must match a Python reference on
    arbitrary small graphs (hubs, cliques, paths, multi-edges)."""

    @given(
        edges=st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=9),
                st.integers(min_value=0, max_value=9),
            ),
            min_size=1,
            max_size=25,
        )
    )
    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def test_edge_triangle_support_matches_brute_force(self, spark, edges):
        from proto_to_avro_ql_spark.operators.graphs import (
            edge_triangle_support,
            node_degrees,
            orient_by_degree,
        )

        simple = {(min(u, v), max(u, v)) for u, v in edges if u != v}
        if not simple:
            return
        # brute force: adjacency sets, per-edge intersection
        adj: dict[int, set[int]] = {}
        for u, v in simple:
            adj.setdefault(u, set()).add(v)
            adj.setdefault(v, set()).add(u)
        expected = {
            (u, v): len(adj[u] & adj[v])
            for u, v in simple
            if len(adj[u] & adj[v]) > 0
        }

        e0 = spark.createDataFrame(sorted(simple), "u long, v long")
        oriented = orient_by_degree(e0, node_degrees(e0))
        got = {
            (r["u"], r["v"]): r["common"]
            for r in edge_triangle_support(oriented).collect()
        }
        assert got == expected, (sorted(simple), got, expected)


class TestUniformCCSemantics:
    """The engine contract is 'exact fixpoint or loud error' on EVERY
    path. Fuzz arbitrary small graphs (self-loops, duplicates, hubs,
    disconnected chains) through both component paths — local
    union-find (default cutoff) and distributed star contraction
    (LOCAL_CUTOFF patched to 0) — on long and on string keys
    (``cast=None``), against an independent Python reachability
    reference; all must agree exactly. Any silent-truncation
    regression on any path breaks this."""

    @given(
        edges=st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=11),
                st.integers(min_value=0, max_value=11),
            ),
            min_size=1,
            max_size=18,
        )
    )
    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def test_all_paths_agree_with_reachability_reference(
        self, spark, monkeypatch, edges
    ):
        from proto_to_avro_ql_spark.operators import clustering as CL
        from proto_to_avro_ql_spark.operators.clustering import (
            connected_components,
        )

        # Python reference: min reachable id per node (BFS closure),
        # node universe = every id appearing in any pair (incl. loops)
        adj: dict[int, set[int]] = {}
        for u, v in edges:
            adj.setdefault(u, set()).add(v)
            adj.setdefault(v, set()).add(u)
        expected = {}
        for start in adj:
            seen, stack = {start}, [start]
            while stack:
                x = stack.pop()
                for y in adj[x]:
                    if y not in seen:
                        seen.add(y)
                        stack.append(y)
            expected[start] = min(seen)

        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        # string keys: zero-padded so that their order is the ids' order
        spairs = spark.createDataFrame(
            [(f"n{u:02d}", f"n{v:02d}") for u, v in edges],
            "id_a string, id_b string",
        )
        want = set(expected.items())
        swant = {(f"n{u:02d}", f"n{c:02d}") for u, c in want}

        def run(p, cast="long"):
            return {
                (r["id"], r["cluster_id"])
                for r in connected_components(p, cast=cast).collect()
            }

        local, slocal = run(pairs), run(spairs, cast=None)
        with monkeypatch.context() as m:
            m.setattr(CL, "LOCAL_CUTOFF", 0)
            star, sstar = run(pairs), run(spairs, cast=None)
        assert local == want, ("local", sorted(local), sorted(want))
        assert star == want, ("star", sorted(star), sorted(want))
        assert slocal == swant, ("local str", sorted(slocal), sorted(swant))
        assert sstar == swant, ("star str", sorted(sstar), sorted(swant))


class TestKCoreProperties:
    """Fuzz iterative k-core peeling on arbitrary small graphs against
    a Python reference, on BOTH paths (local numpy tail and the
    distributed rounds, LOCAL_CUTOFF patched to 0) — complements
    TestUniformCCSemantics for the third iterative graph operator."""

    @given(
        edges=st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=9),
                st.integers(min_value=0, max_value=9),
            ),
            min_size=1,
            max_size=20,
        ),
        k=st.integers(min_value=2, max_value=3),
    )
    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def test_kcore_matches_reference_peel(self, spark, monkeypatch, edges, k):
        from proto_to_avro_ql_spark.operators import clustering as CL
        from proto_to_avro_ql_spark.operators.clustering import kcore_nodes

        simple = {(min(u, v), max(u, v)) for u, v in edges if u != v}
        if not simple:
            return
        # Python reference: peel to fixpoint, report surviving degrees
        es = set(simple)
        while True:
            deg: dict[int, int] = {}
            for u, v in es:
                deg[u] = deg.get(u, 0) + 1
                deg[v] = deg.get(v, 0) + 1
            alive = {n for n, d in deg.items() if d >= k}
            nxt = {(u, v) for u, v in es if u in alive and v in alive}
            if nxt == es:
                break
            es = nxt
        expected = {}
        for u, v in es:
            expected[u] = expected.get(u, 0) + 1
            expected[v] = expected.get(v, 0) + 1

        pairs = spark.createDataFrame(sorted(simple), "id_a long, id_b long")
        local = {
            (r["id"], r["core_degree"])
            for r in kcore_nodes(pairs, k=k).collect()
        }
        with monkeypatch.context() as m:
            m.setattr(CL, "LOCAL_CUTOFF", 0)
            dist = {
                (r["id"], r["core_degree"])
                for r in kcore_nodes(pairs, k=k).collect()
            }
        want = set(expected.items())
        assert local == want, ("local", sorted(local), sorted(want))
        assert dist == want, ("distributed", sorted(dist), sorted(want))
