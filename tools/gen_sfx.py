"""Derived scaled INPUT generator for scaling probes (r12 VERDICT #8).

The committed testdata tops out at sf0.1, where every headline query is
fixed-overhead-bound (r12 scaling block: all 8c/32c ratios <= 1.02) —
the bench cannot demonstrate parallel scaling there. This tool writes a
10x-scaled DERIVED dataset (sf1-equivalent row counts) to a scratch
dir so the heavy operators can be timed at a size where parallelism is
visible. It is an INPUT generator for one-off measurements: nothing
here precomputes, caches, or stages any query RESULT — every probe
still computes from parquet.

    python tools/gen_sfx.py [out_dir] [factor]     # default /tmp/sfx1, 10

Construction (deterministic, no RNG):
- documents: ``factor`` copies, doc_id' = doc_id + k*(max_id+1); text
  and lang unchanged. Vocab-bounded model relations stay honestly
  vocab-bounded; the corpus-scale passes (tokenize, occ) scale by
  ``factor``; the mix31(doc_id) train/eval split keeps its ~80/20 mix
  because the ids stay dense.
- embeddings: ``factor`` copies, vec_id' likewise; each copy-k vector
  is the original ROTATED left by k positions. Rotation preserves the
  norm and the coordinate multiset but changes direction, so copies do
  NOT land in the same LSH bucket / near-dup pair as their source —
  replicating identical vectors would inflate the (by-design
  birthday-bounded) bucket joins quadratically and measure a data
  artifact instead of the plan. A ``factor`` above the vector
  dimension is rejected: copies k and k + dim would be identical.
- events: ``factor`` copies, event_id' likewise (ts unchanged);
  blockhash seeds (event_id div 4) stay distinct across copies, so the
  band-collision density stays at the sf0.1 design point.
- every other table: copied unchanged (dimension tables).
"""

from __future__ import annotations

import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    out_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sfx1"
    factor = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    src = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    import pyarrow as pa

    emb = os.path.join(src, "embeddings.parquet")
    if os.path.exists(emb):
        vecs = pq.read_table(emb, columns=["embedding"])["embedding"].to_pylist()
        dim = min((len(v) for v in vecs if v is not None), default=0)
        if factor > dim:
            raise SystemExit(
                f"factor {factor} > embedding dim {dim}: copies would repeat rotations"
            )

    os.makedirs(out_dir, exist_ok=True)

    def scale_ids(path: str, id_col: str, rotate_col: str | None, dest: str) -> None:
        t = pq.read_table(path)
        n = pc.max(t[id_col]).as_py() + 1
        if rotate_col:
            arr = t[rotate_col].combine_chunks()
            vals = arr.to_pylist()
        parts = []
        for k in range(factor):
            cols = {}
            for name in t.column_names:
                if name == id_col:
                    cols[name] = pc.add(t[name], k * n)
                elif name == rotate_col and k > 0:
                    cols[name] = pa.array(
                        [v[k:] + v[:k] if v is not None else None for v in vals],
                        type=arr.type,
                    )
                else:
                    cols[name] = t[name]
            parts.append(pa.table(cols, schema=t.schema))
        pq.write_table(pa.concat_tables(parts), dest)

    for name in sorted(os.listdir(src)):
        s = os.path.join(src, name)
        d = os.path.join(out_dir, name)
        if name == "documents.parquet":
            scale_ids(s, "doc_id", None, d)
        elif name == "embeddings.parquet":
            scale_ids(s, "vec_id", "embedding", d)
        elif name == "events.parquet":
            scale_ids(s, "event_id", None, d)
        else:
            shutil.copyfile(s, d)
        print(f"# {name}: {os.path.getsize(d)} bytes", file=sys.stderr)
    print(f"{out_dir} written at factor {factor} from {src}")


if __name__ == "__main__":
    main()
