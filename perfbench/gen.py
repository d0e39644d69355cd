"""Seeded input generator for the graft benchmark.

Every input the benchmark feeds the program is made here from the run's
seed, so the same seed gives byte-identical parquet files.

`fixture(dir, seed)` writes the two tables the `loops` workload's queries
read, as a seeded variant of the project's sf0.1 fixture: `data/` holds
sf0.1's `documents` table and the key columns of its `lineitem` table
(l_orderkey, l_partkey, l_suppkey; the only ones the queries read). Like
`scripts/make_sf1.py` at one replica, the variant relabels every id column
by a seeded permutation, permutes the rows, and gives every token a seeded
suffix, the same one wherever the token occurs, so near-duplicates stay
near-duplicates; `n_chars` is recomputed.

`kernel_inputs(dir, seed, m, n, files)` writes the query side Q (m rows of 64
standard-normal doubles and a uniform label in [0, n)) and the key/value
side KV (n rows, kvec of 64 and vvec of 32 standard-normal doubles) of the
pair kernels.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
FIXTURE_TABLES = ["lineitem", "documents"]
SUFFIX_CHARS = np.array(list("abcdefghijklmnopqrstuvwxyz0123456789"))


def _write(dirpath, name, cols, files=1):
    tbl = pa.table(cols)
    if files == 1:
        pq.write_table(tbl, os.path.join(dirpath, f"{name}.parquet"))
        return
    sub = os.path.join(dirpath, name)
    os.makedirs(sub, exist_ok=True)
    step = -(-tbl.num_rows // files)
    for i in range(files):
        pq.write_table(tbl.slice(i * step, step),
                       os.path.join(sub, f"part-{i:05d}.parquet"))


def _relabel(rng, col):
    """The id column under a seeded permutation of [0, max id]."""
    ids = col.to_numpy()
    return pa.array(rng.permutation(int(ids.max()) + 1)[ids], col.type)


def fixture(dirpath, seed):
    os.makedirs(dirpath, exist_ok=True)
    rng = np.random.default_rng([seed, 1])

    li = pq.read_table(os.path.join(DATA, "lineitem.parquet"))
    rows = rng.permutation(li.num_rows)
    _write(dirpath, "lineitem",
           {c: _relabel(rng, li[c]).take(rows) for c in li.column_names})

    docs = pq.read_table(os.path.join(DATA, "documents.parquet"))
    words = sorted({w for t in docs["text"].to_pylist() for w in t.split()})
    tails = rng.choice(SUFFIX_CHARS, (len(words), 2))
    suffix = {w: w + "".join(t) for w, t in zip(words, tails)}
    texts = [" ".join(suffix[w] for w in t.split()) for t in docs["text"].to_pylist()]
    rows = rng.permutation(docs.num_rows)
    _write(dirpath, "documents", {
        "doc_id": _relabel(rng, docs["doc_id"]).take(rows),
        "text": pa.array(texts, pa.string()).take(rows),
        "lang": docs["lang"].take(rows),
        "source": docs["source"].take(rows),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()).take(rows)})


def kernel_inputs(dirpath, seed, m, n, files):
    """Q (q_id, qvec[64], label) and KV (k_id, kvec[64], vvec[32]); Q is split
    into `files` parquet files so its scan parallelizes like a real table."""
    os.makedirs(dirpath, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    dbl = pa.list_(pa.float64())
    _write(dirpath, "q", {
        "q_id": pa.array(np.arange(m), pa.int64()),
        "qvec": pa.array(list(rng.standard_normal((m, 64))), dbl),
        "label": pa.array(rng.integers(0, n, m), pa.int64())}, files=files)
    _write(dirpath, "kv", {
        "k_id": pa.array(np.arange(n), pa.int64()),
        "kvec": pa.array(list(rng.standard_normal((n, 64))), dbl),
        "vvec": pa.array(list(rng.standard_normal((n, 32))), dbl)})
