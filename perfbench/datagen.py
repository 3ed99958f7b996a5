"""Seeded, shape-preserving variants of the bundled base tables.

``perfbench/base/<sf>/`` holds the tables that the workloads' queries
and oracles read at that scale (``workloads.TABLES``). For a seed,
:func:`generate` writes a variant of them:

* every table's row order is permuted by the seed;
* surrogate keys are offset by a seed-chosen multiple of 720720
  (lcm(1..16)), and every foreign key that references them gets the
  same offset, so joins, ``key % n`` patterns for n <= 16 and per-key
  cardinalities are unchanged;
* ``region``/``nation`` keys stay fixed (dimension tables). Foreign
  keys into tables that no workload reads (customer, part, supplier)
  are offset all the same, one offset per referenced table;
* row counts, non-key values and the schema are unchanged, and each
  table is again one parquet file with one row group.

The same seed gives byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
BASE = os.path.join(HERE, "base")
KEY_UNIT = 720720

#: table -> {column: key family}; a family shares one offset across the
#: primary key and every foreign key that references it.
KEYS: dict[str, dict[str, str]] = {
    "region": {},
    "nation": {},
    "orders": {"o_orderkey": "order", "o_custkey": "cust"},
    "lineitem": {"l_orderkey": "order", "l_partkey": "part", "l_suppkey": "supp"},
    "events": {"event_id": "event", "user_id": "user"},
    "documents": {"doc_id": "doc"},
}


def data_dir(work: str, sf: str, seed: int) -> str:
    return os.path.join(work, "data", f"seed{seed}", sf)


def generate(work: str, sf: str, seed: int, tables: list[str]) -> str:
    """Write the seed's variant of ``tables`` from ``base/<sf>`` (once)
    and return its directory. A ``DONE`` marker makes an interrupted
    write redo."""
    out = data_dir(work, sf, seed)
    if os.path.exists(os.path.join(out, "DONE")):
        return out
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    families = sorted({f for t in tables for f in KEYS[t].values()})
    offsets = {f: KEY_UNIT * int(rng.integers(1, 17)) for f in families}
    for table in sorted(tables):
        src = os.path.join(BASE, sf, f"{table}.parquet")
        t = pq.read_table(src)
        t = t.take(pa.array(rng.permutation(t.num_rows)))
        for col, fam in KEYS[table].items():
            i = t.schema.get_field_index(col)
            typ = t.schema.field(i).type
            shifted = np.asarray(t.column(i).to_numpy(), dtype=np.int64) + offsets[fam]
            t = t.set_column(i, t.schema.field(i), pa.array(shifted, type=typ))
        pq.write_table(
            t,
            os.path.join(out, f"{table}.parquet"),
            row_group_size=max(t.num_rows, 1),
            compression="snappy",
        )
    with open(os.path.join(out, "DONE"), "w") as f:
        f.write(f"{seed}\n")
    return out
