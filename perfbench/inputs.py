"""The workloads' inputs: the repository's sf0.01 test tables, replicated and
permuted by the seed.

`perfbench/data/` holds a byte-for-byte copy of the committed read-only
sf0.01 tables (TESTDATA.md: deterministic synthetic tables, seed 42; ~60k
lineitem rows), so a checkout carries the data the benchmark reads. A
workload takes them `copies` times:

- fact tables (`orders`, `lineitem`, `events`): copy c adds c * KEY_STRIDE to
  the keys, so copies share no order, event or user; the dimension tables
  are taken once, so joins fan out as in the base data;
- `documents`: `tools/ScaleProbe`'s dissimilar-copy replication: copy c
  offsets `doc_id` by c * 1 000 000 and tags every 4-character alphanumeric
  run with c, so copies are mutually dissimilar and the near-duplicate rate
  per document stays that of the base table;
- `embeddings`: taken once.

The seed draws the order of the copies and a permutation of the rows inside
every copy of every table, so each seed writes other files (other row
groups, other scan order) holding the same rows up to the key offsets. The
program under test sees only the written files.
"""
import hashlib
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
KEY_STRIDE = 100_000_000
DOC_STRIDE = 1_000_000
FACT_KEYS = {"orders": ["o_orderkey"], "lineitem": ["l_orderkey"],
             "events": ["event_id", "user_id"]}
ONCE = ["region", "nation", "customer", "supplier", "part", "embeddings"]
_TAG = re.compile(r"([0-9A-Za-z]{4})")


def _read(name):
    return pq.read_table(os.path.join(DATA, f"{name}.parquet")).replace_schema_metadata(None)


def _write(out_dir, name, table, row_group):
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                   row_group_size=max(row_group, 1))


def _offset(table, cols, by):
    for c in cols:
        i = table.schema.get_field_index(c)
        table = table.set_column(i, c, pc.add(table[c], pa.scalar(by, table.schema.field(c).type)))
    return table


def _tag_documents(table, c):
    text = [_TAG.sub(r"\g<1>" + str(c), t) for t in table["text"].to_pylist()]
    table = _offset(table, ["doc_id"], c * DOC_STRIDE)
    table = table.set_column(table.schema.get_field_index("text"), "text", pa.array(text))
    return table.set_column(table.schema.get_field_index("n_chars"), "n_chars",
                            pa.array([len(t) for t in text], pa.int64()))


def materialize(out_dir, seed, copies, doc_copies):
    """Write the workload's tables to `out_dir`, one parquet file each with
    one row group per copy (so a replicated scan splits). Returns
    {table: rows}."""
    if not os.path.isfile(os.path.join(DATA, "lineitem.parquet")):
        raise SystemExit(f"perfbench: input tables missing under {DATA}")
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    rows = {}

    def replicate(name, n_copies, copy_fn):
        base = _read(name)
        parts = [copy_fn(base.take(rng.permutation(base.num_rows)), int(c))
                 for c in rng.permutation(n_copies)]
        table = pa.concat_tables(parts)
        _write(out_dir, name, table, base.num_rows)
        rows[name] = table.num_rows

    for name in ONCE:
        replicate(name, 1, lambda t, c: t)
    for name, keys in FACT_KEYS.items():
        replicate(name, copies, lambda t, c, keys=keys: _offset(t, keys, c * KEY_STRIDE))
    replicate("documents", doc_copies, lambda t, c: _tag_documents(t, c) if c else t)
    return rows


def files_digest(out_dir):
    """sha256 over the written files (the writer is deterministic)."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(out_dir)):
        path = os.path.join(out_dir, name)
        if os.path.isfile(path):
            h.update(name.encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]
