#!/usr/bin/env python
"""Generate a local sf1 dataset (VERDICT r10 item 4: scale evidence).

TESTDATA.md ships no generator (the driver generated /root/testdata and
marks it read-only), so sf1 here is a DETERMINISTIC 10× inflation of
sf0.1 — replica 0 is the original data verbatim; replicas 1..9 get
offset keys and deterministic perturbations so the inflated corpus is
not a degenerate pile of exact duplicates:

- documents: doc_id += k * 5000; ~40% of tokens per replica doc are
  suffixed with a replica tag (seeded numpy RNG, seed = 42000 + k), so
  replicas are NOT near-dups of their source (expected Jaccard ≈ 0.43
  « the 0.8 LSH threshold) and shared 30-token substring windows
  vanish (0.6³⁰ ≈ 2e-7). n_chars recomputed from the perturbed text.
- embeddings: vec_id += k * 2000; each component scaled by
  (1 + 0.1·U(-1,1)) with the same seeding, so replicas cluster near
  their source without being cosine-identical.
- orders / lineitem: o_orderkey / l_orderkey += k * (max_orderkey + 1)
  — referential integrity preserved per replica; all other columns
  verbatim (so filters keep their selectivity).
- region/nation/customer/supplier/part/events: copied verbatim
  (dimension tables and the stream table are not in the sf1 scaling
  set's data path).

Output: /root/testdata_r11/sf1/<table>.parquet, multiple row groups so
Spark scan splits exist.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SRC = "/root/testdata/sf0.1"
# Usage: python scripts/r11_make_sf1.py [K] [DST] — default 10x -> sf1.
import sys as _sys
K = int(_sys.argv[1]) if len(_sys.argv) > 1 else 10
DST = _sys.argv[2] if len(_sys.argv) > 2 else "/root/testdata_r11/sf1"


def write(name: str, table: pa.Table, row_group_size: int) -> None:
    pq.write_table(
        table, os.path.join(DST, f"{name}.parquet"),
        row_group_size=row_group_size, compression="snappy",
    )
    print(f"{name}: {table.num_rows} rows", flush=True)


def main() -> None:
    os.makedirs(DST, exist_ok=True)

    for t in ("region", "nation", "customer", "supplier", "part", "events"):
        shutil.copyfile(
            os.path.join(SRC, f"{t}.parquet"), os.path.join(DST, f"{t}.parquet")
        )
        print(f"{t}: copied", flush=True)

    # documents ---------------------------------------------------------
    docs = pq.read_table(os.path.join(SRC, "documents.parquet"))
    d = docs.to_pydict()
    n = len(d["doc_id"])
    out = {c: list(d[c]) for c in ("doc_id", "text", "lang", "source")}
    for k in range(1, K):
        rng = np.random.RandomState(42000 + k)
        for i in range(n):
            toks = d["text"][i].split(" ")
            mask = rng.rand(len(toks)) < 0.4
            toks = [
                f"{t}q{k}" if m else t for t, m in zip(toks, mask)
            ]
            out["doc_id"].append(d["doc_id"][i] + k * n)
            out["text"].append(" ".join(toks))
            out["lang"].append(d["lang"][i])
            out["source"].append(d["source"][i])
    out["n_chars"] = [len(t) for t in out["text"]]
    tbl = pa.table(
        {
            "doc_id": pa.array(out["doc_id"], pa.int64()),
            "text": pa.array(out["text"], pa.string()),
            "lang": pa.array(out["lang"], pa.string()),
            "source": pa.array(out["source"], pa.string()),
            "n_chars": pa.array(out["n_chars"], pa.int64()),
        }
    )
    write("documents", tbl, 4096)

    # embeddings --------------------------------------------------------
    emb = pq.read_table(os.path.join(SRC, "embeddings.parquet"))
    vec_id = emb.column("vec_id").to_numpy()
    labels = emb.column("label").to_numpy()
    mat = np.array(emb.column("embedding").to_pylist(), dtype=np.float32)
    nv, dim = mat.shape
    ids, labs, vecs = [vec_id], [labels], [mat]
    for k in range(1, K):
        rng = np.random.RandomState(52000 + k)
        noise = 1.0 + 0.1 * (2.0 * rng.rand(nv, dim).astype(np.float32) - 1.0)
        ids.append(vec_id + k * nv)
        labs.append(labels)
        vecs.append(mat * noise)
    flat = np.concatenate(vecs).reshape(-1)
    offsets = np.arange(0, (nv * K + 1) * dim, dim, dtype=np.int32)
    arr = pa.ListArray.from_arrays(pa.array(offsets), pa.array(flat, pa.float32()))
    tbl = pa.table(
        {
            "vec_id": pa.array(np.concatenate(ids), pa.int64()),
            "embedding": arr,
            "label": pa.array(np.concatenate(labs), pa.int32()),
        }
    )
    write("embeddings", tbl, 2048)

    # orders / lineitem --------------------------------------------------
    orders = pq.read_table(os.path.join(SRC, "orders.parquet"))
    okey = orders.column("o_orderkey").to_numpy()
    stride = int(okey.max()) + 1
    parts = []
    for k in range(K):
        t = orders.set_column(
            orders.schema.get_field_index("o_orderkey"),
            "o_orderkey",
            pa.array(okey + k * stride, pa.int64()),
        )
        parts.append(t)
    write("orders", pa.concat_tables(parts), 131072)

    li = pq.read_table(os.path.join(SRC, "lineitem.parquet"))
    lkey = li.column("l_orderkey").to_numpy()
    parts = []
    for k in range(K):
        t = li.set_column(
            li.schema.get_field_index("l_orderkey"),
            "l_orderkey",
            pa.array(lkey + k * stride, pa.int64()),
        )
        parts.append(t)
    write("lineitem", pa.concat_tables(parts), 262144)


if __name__ == "__main__":
    main()
