"""Seeded input generator.

Builds a workload's input directory from the committed base tables in
`perfbench/base/` (the sf0.01 snapshot of the engine's TPC-H-ish star schema
plus `events`, `documents` and `embeddings`). The seed fixes:

- a row permutation of every table, so no query can lean on file order;
- for a scale factor k > 1, the key offsets of copies 1..k-1 of the fact
  tables (`customer`, `orders`, `lineitem`, `events`). Copy 0 keeps the base
  keys; every other copy shifts its keys by a distinct multiple of the key
  domain's stride, drawn by the seed, so copies never collide and joins stay
  within a copy.

Dimension tables (`region`, `nation`, `supplier`, `part`) and the text and
vector tables are permuted but not replicated. The same seed and scale give
byte-identical parquet files.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

BASE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "base")

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# Key columns shifted per copy, grouped by key domain: every column of one
# domain gets the same offset in a copy, so foreign keys keep pointing
# inside their copy.
DOMAINS = {
    "cust": [("customer", "c_custkey"), ("orders", "o_custkey")],
    "order": [("orders", "o_orderkey"), ("lineitem", "l_orderkey")],
    "event": [("events", "event_id")],
    "user": [("events", "user_id")],
}
REPLICATED = {t for cols in DOMAINS.values() for t, _ in cols}


def _stride(tables, cols):
    top = max(pc.max(tables[t][c]).as_py() for t, c in cols)
    return 10 ** len(str(top + 1))


def generate(out_dir, seed, scale):
    """Write the ten tables to `out_dir`; return [(table, rows, bytes)] and
    a digest of the written files."""
    rng = np.random.default_rng(seed)
    base = {t: pq.read_table(os.path.join(BASE, f"{t}.parquet")) for t in TABLES}
    # Distinct slots 1..4k-1 for copies 1..k-1: the seed picks where each
    # copy's key range lands.
    slots = {d: [0] + sorted(rng.choice(np.arange(1, 4 * scale), scale - 1,
                                        replace=False).tolist())
             if scale > 1 else [0] for d in sorted(DOMAINS)}
    strides = {d: _stride(base, cols) for d, cols in DOMAINS.items()}
    os.makedirs(out_dir, exist_ok=True)
    stats, digest = [], hashlib.sha256()
    for t in TABLES:
        tbl = base[t]
        if t in REPLICATED and scale > 1:
            copies = []
            for c in range(scale):
                cp = tbl
                for d, cols in DOMAINS.items():
                    off = slots[d][c] * strides[d]
                    for tt, col in cols:
                        if tt == t and off:
                            i = cp.schema.get_field_index(col)
                            cp = cp.set_column(i, cp.schema.field(i),
                                               pc.add(cp[col], pa.scalar(off, cp[col].type)))
                copies.append(cp)
            tbl = pa.concat_tables(copies)
        tbl = tbl.take(pa.array(rng.permutation(tbl.num_rows)))
        path = os.path.join(out_dir, f"{t}.parquet")
        pq.write_table(tbl, path, compression="snappy")
        with open(path, "rb") as f:
            digest.update(f.read())
        stats.append((t, tbl.num_rows, os.path.getsize(path)))
    return stats, digest.hexdigest()
