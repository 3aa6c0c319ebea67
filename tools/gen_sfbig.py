"""Generate a 10x perf-measurement dataset from sf0.1 (NOT driver data).

The driver's round-end bench may run at sf1.0 (lineitem ~6M rows,
documents ~50k, embeddings ~20k) on tables it generates itself; the repo
only ships sf0.001/0.01/0.1. For optimization work we need a local
dataset of the driver's sf1.0 *scale* so superlinear operators show up.
This script replicates sf0.1 K times with structure-preserving
perturbations:

- relational tables: key-shift per copy (referential integrity kept;
  region/nation stay fixed like TPC-H dims)
- documents: per-copy token suffix -> copies are shingle-disjoint, so
  near-dup pair structure scales linearly (like a real corpus with a
  constant dup rate), not quadratically
- embeddings: per-copy random dimension permutation + sign flips ->
  within-copy dot products exactly preserved, cross-copy cosines ~random
  (no artificial cross-copy near-dup blowup)
- events: id/user shift per copy, same time window (denser stream)

Output: /root/sfbig/sf1.0 (or --out). Used ONLY by local perf probes
(bench_extra.py), never by bench.py or the oracle.
"""

from __future__ import annotations

import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SRC = "/root/testdata/sf0.1"


def read(name: str) -> pa.Table:
    return pq.read_table(os.path.join(SRC, f"{name}.parquet"))


def shift(col: pa.ChunkedArray, delta: int) -> pa.ChunkedArray:
    return pc.add(col, pa.scalar(delta, type=col.type))


def replace(tbl: pa.Table, **cols: pa.ChunkedArray) -> pa.Table:
    """Replace columns by NAME (never by position): if a source table's
    column order changes, or a column is renamed, this fails instead of
    silently overwriting the wrong column of the perf dataset."""
    for name, col in cols.items():
        i = tbl.schema.get_field_index(name)
        if i < 0:
            raise KeyError(f"column {name!r} not in {tbl.schema.names}")
        tbl = tbl.set_column(i, name, col)
    return tbl


def write(tbl: pa.Table, out_dir: str, name: str) -> None:
    pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"),
                   compression="snappy", row_group_size=200_000)


def rep_relational(out: str, k: int) -> None:
    cust, supp, part, orders, li, ev = (
        read("customer"), read("supplier"), read("part"),
        read("orders"), read("lineitem"), read("events"))
    n_c = 15000
    n_s = 1000
    n_p = 20000
    okey_span = pc.max(orders["o_orderkey"]).as_py() + 1
    ekey_span = pc.max(ev["event_id"]).as_py() + 1
    ukey_span = pc.max(ev["user_id"]).as_py() + 1

    def copies(tbl: pa.Table, fn) -> pa.Table:
        return pa.concat_tables([fn(tbl, i) for i in range(k)])

    write(copies(cust, lambda t, i: replace(
        t, c_custkey=shift(t["c_custkey"], i * n_c))), out, "customer")
    write(copies(supp, lambda t, i: replace(
        t, s_suppkey=shift(t["s_suppkey"], i * n_s))), out, "supplier")
    write(copies(part, lambda t, i: replace(
        t, p_partkey=shift(t["p_partkey"], i * n_p))), out, "part")
    write(copies(orders, lambda t, i: replace(
        t, o_orderkey=shift(t["o_orderkey"], i * okey_span),
        o_custkey=shift(t["o_custkey"], i * n_c))), out, "orders")
    write(copies(li, lambda t, i: replace(
        t, l_orderkey=shift(t["l_orderkey"], i * okey_span),
        l_partkey=shift(t["l_partkey"], i * n_p),
        l_suppkey=shift(t["l_suppkey"], i * n_s))), out, "lineitem")
    write(copies(ev, lambda t, i: replace(
        t, event_id=shift(t["event_id"], i * ekey_span),
        user_id=shift(t["user_id"], i * ukey_span))), out, "events")
    for name in ("region", "nation"):
        write(read(name), out, name)


def rep_documents(out: str, k: int) -> None:
    docs = read("documents")
    n_d = docs.num_rows
    texts = docs["text"].to_pylist()
    parts = []
    for i in range(k):
        if i == 0:
            t = docs
        else:
            suff = f"k{i}"
            new_texts = [" ".join(w + suff for w in s.split()) for s in texts]
            arr = pa.array(new_texts, type=pa.string())
            t = replace(
                docs, doc_id=shift(docs["doc_id"], i * n_d), text=arr,
                n_chars=pc.cast(pc.utf8_length(arr), pa.int64()))
        parts.append(t)
    write(pa.concat_tables(parts), out, "documents")


def rep_embeddings(out: str, k: int) -> None:
    emb = read("embeddings")
    n_e = emb.num_rows
    mat = np.array(emb["embedding"].to_pylist(), dtype=np.float32)
    dim = mat.shape[1]
    parts = []
    for i in range(k):
        if i == 0:
            m = mat
        else:
            rng = np.random.default_rng(1000 + i)
            perm = rng.permutation(dim)
            signs = rng.choice([-1.0, 1.0], size=dim).astype(np.float32)
            m = mat[:, perm] * signs
        arr = pa.FixedSizeListArray.from_arrays(
            pa.array(m.reshape(-1), type=pa.float32()), dim).cast(
            pa.list_(pa.float32()))
        t = replace(emb, vec_id=shift(emb["vec_id"], i * n_e), embedding=arr)
        parts.append(t)
    write(pa.concat_tables(parts), out, "embeddings")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="/root/sfbig/sf1.0")
    ap.add_argument("--k", type=int, default=10)
    args = ap.parse_args()
    os.makedirs(args.out, exist_ok=True)
    rep_relational(args.out, args.k)
    rep_documents(args.out, args.k)
    rep_embeddings(args.out, args.k)
    open(os.path.join(args.out, "_DONE"), "w").close()
    print("wrote", args.out)


if __name__ == "__main__":
    main()
