"""Seeded benchmark inputs: a structure-preserving transform of the read-only
harness tables.

  python3 perfbench/gen.py <src_dir> <dst_dir> <seed> <copies>

The seed picks three things; seed 42 with one copy is the identity.
- Key shift: one offset, added to every int64 surrogate key column. Joins,
  fan-outs and the repo's int32 dimension keys are unchanged.
- Alphabet rotation: a Caesar shift of documents.text. Token boundaries,
  lengths, word frequencies and near-duplicate structure are kept.
- Vector rotation: a circular shift of each embedding. Norms and pairwise
  distances are kept.

`copies` > 1 replicates documents only, like the repo's ScaleGen: copy c
gets doc_id + c * (max(doc_id) + 1) and the rotation (r + c) mod 26, so
copies share no vocabulary and keep the corpus's own near-duplicate rate.
Output files are single-row-group parquet written by the same pyarrow as
the source tables, so scan splitting and footer-based size gates see the
same layout.
"""
import random
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
KEYS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
LOWER = "abcdefghijklmnopqrstuvwxyz"
# q_pagerank/q_betweenness put supplier vertices at s_suppkey + 10^6 beside
# part vertices: a shift below 500,000 keeps the two ranges apart.
MAX_SHIFT = 500_000


def params(seed):
    """(key shift, alphabet rotation, vector rotation) for a seed."""
    if seed == 42:
        return 0, 0, 0
    rng = random.Random(seed)
    return rng.randrange(1, MAX_SHIFT), rng.randrange(1, 26), rng.randrange(1, 64)


def caesar(text, r):
    r %= 26
    if r == 0:
        return text
    lo = LOWER[r:] + LOWER[:r]
    table = str.maketrans(LOWER + LOWER.upper(), lo + lo.upper())
    return pa.array([None if t is None else t.translate(table) for t in text.to_pylist()], text.type)


def shift_keys(t, cols, by):
    for c in cols:
        i = t.schema.get_field_index(c)
        t = t.set_column(i, t.schema.field(i), pc.add(t.column(c), pa.scalar(by, t.schema.field(i).type)))
    return t


def generate(src, dst, seed, copies):
    src, dst = Path(src), Path(dst)
    shift, rot, vrot = params(seed)
    tmp = dst.with_name(dst.name + ".tmp")
    tmp.mkdir(parents=True, exist_ok=True)
    for name in TABLES:
        t = pq.read_table(src / f"{name}.parquet")
        t = shift_keys(t, KEYS.get(name, []), shift)
        if name == "documents":
            step = pc.max(t.column("doc_id")).as_py() + 1 - shift
            parts = []
            for c in range(copies):
                p = shift_keys(t, ["doc_id"], c * step)
                i = p.schema.get_field_index("text")
                parts.append(p.set_column(i, p.schema.field(i), caesar(p.column("text"), rot + c)))
            t = pa.concat_tables(parts)
        if name == "embeddings" and vrot:
            i = t.schema.get_field_index("embedding")
            vecs = [None if v is None else v[vrot:] + v[:vrot] for v in t.column(i).to_pylist()]
            t = t.set_column(i, t.schema.field(i), pa.array(vecs, t.schema.field(i).type))
        pq.write_table(t, tmp / f"{name}.parquet", row_group_size=max(t.num_rows, 1))
    tmp.rename(dst)


if __name__ == "__main__":
    generate(sys.argv[1], sys.argv[2], int(sys.argv[3]), int(sys.argv[4]))
