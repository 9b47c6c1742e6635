"""Seeded input generator for the perfbench workloads.

Base tables are synthesized from a FIXED base seed in the schema and
value distributions of the repo's TPC-H-shaped test data (the
`lineitem`/`orders`/... star schema plus the `documents` text corpus
and the 64-d `embeddings`). The workload seed never changes what the
base tables contain; it only picks what the `ScaleStudy` shard
transform is free to pick:

  * the variant (seed mod VARIANTS), which fixes a key offset, a
    multiple of the 1e8 shard stride, so every key-derived position
    (`key % 1000`, `key % 500`, `key % 20`) keeps its residue and every
    key stays below 2^31 (the domain of the Murmur3 SQL emission the
    ep2 oracle uses), and a permutation of which text / vector sits
    under which id;
  * a permutation of the row order of every table.

Row order never changes a query result, so all seeds of one variant
share one oracle result (run.py caches it per variant: the DuckDB
oracles of ep2, ss_topk_ivfpq and ep4 take tens of seconds each).
Row counts, value distributions and the duplicate structure are the
same for every seed, and one seed always writes byte-identical parquet.

Usage: python3 perfbench/gen.py <workload> <seed> <out_dir>
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42
STRIDE = 100_000_000  # ScaleStudy's shard stride (> any base key)

# Base sizes. The ztf and lakehouse tables are the sf0.01 shape of the
# test data (lineitem 60k rows); the corpus tables are 250-row base
# shards replicated 4x by the shard transform.
SIZES = {
    "customer": 1_500, "supplier": 100, "part": 2_000,
    "orders": 15_000, "lineitem": 60_000,
    "documents": 250, "embeddings": 250,
}
VARIANTS = 2
SHARDS = {"ztf_pipeline": 1, "dedup_ann_x4": 4, "lakehouse_rw": 1}
TABLES = {
    "ztf_pipeline": ["customer", "supplier", "part", "orders", "lineitem"],
    "dedup_ann_x4": ["documents", "embeddings"],
    "lakehouse_rw": ["orders"],
}
WORKLOADS = tuple(TABLES)

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
ALPHA = "abcdefghijklmnopqrstuvwxyz0123456789"
EPOCH = np.datetime64("1970-01-01", "D")


def _rng(*key):
    return np.random.default_rng([BASE_SEED, *key])


def _days(rng, n, lo, hi):
    lo_d = (np.datetime64(lo, "D") - EPOCH).astype(np.int64)
    hi_d = (np.datetime64(hi, "D") - EPOCH).astype(np.int64)
    days = rng.integers(lo_d, hi_d + 1, n)
    return pa.array(days * 86_400_000_000, pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def base_table(name):
    """The seed-independent base table, as a dict of arrow arrays."""
    n = SIZES[name]
    rng = _rng(sorted(SIZES).index(name))
    ids = np.arange(n, dtype=np.int64)
    if name == "customer":
        return {
            "c_custkey": ids,
            "c_name": [f"Customer#{i:09d}" for i in ids],
            "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
            "c_acctbal": _money(rng, n, -999.99, 9999.99),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n),
        }
    if name == "supplier":
        return {
            "s_suppkey": ids,
            "s_name": [f"Supplier#{i:09d}" for i in ids],
            "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
            "s_acctbal": _money(rng, n, 0.0, 9999.99),
        }
    if name == "part":
        adj = ["large", "hot", "blue", "small", "red", "cold", "green", "tiny"]
        noun = ["ring", "bolt", "nut", "gear", "pipe", "valve", "screw", "plate"]
        return {
            "p_partkey": ids,
            "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                       zip(rng.integers(0, 8, n), rng.integers(0, 8, n))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
            "p_type": rng.choice(
                ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n),
            "p_size": rng.integers(1, 51, n).astype(np.int32),
            "p_retailprice": np.round(900.0 + (ids % 1000) / 10.0, 2),
        }
    if name == "orders":
        return {
            "o_orderkey": ids,
            "o_custkey": rng.integers(0, SIZES["customer"], n).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n),
            "o_totalprice": _money(rng, n, 1000.0, 500000.0),
            "o_orderdate": _days(rng, n, "1995-01-01", "2001-08-01"),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n),
        }
    if name == "lineitem":
        return {
            "l_orderkey": rng.integers(0, SIZES["orders"], n).astype(np.int64),
            "l_partkey": rng.integers(0, SIZES["part"], n).astype(np.int64),
            "l_suppkey": rng.integers(0, SIZES["supplier"], n).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(rng, n, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n),
            "l_linestatus": rng.choice(["F", "O"], n),
            "l_shipdate": _days(rng, n, "1995-01-02", "2001-11-04"),
        }
    if name == "documents":
        # ~5% near-dups (an earlier doc plus a trailing token, the
        # test corpus's own near-dup shape) and ~0.2% exact copies
        texts = []
        for i in range(n):
            u = rng.random()
            if i >= 20 and u < 0.05:
                texts.append(texts[int(rng.integers(0, i))] + " dup")
            elif i >= 20 and u < 0.052:
                texts.append(texts[int(rng.integers(0, i))])
            else:
                k = int(rng.integers(10, 101))
                texts.append(" ".join(rng.choice(VOCAB, k)))
        return {
            "doc_id": ids,
            "text": texts,
            "lang": rng.choice(["en", "de", "fr", "es", "zh"], n,
                               p=[0.41, 0.14, 0.15, 0.15, 0.15]),
            "source": [f"src{i % 20}" for i in ids],
        }
    if name == "embeddings":
        labels = rng.integers(0, 10, n)
        centers = rng.normal(size=(10, 64))
        v = 0.35 * centers[labels] + rng.normal(size=(n, 64))
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        return {
            "vec_id": ids,
            "embedding": pa.array(list(v.astype(np.float32)), pa.list_(pa.float32())),
            "label": labels.astype(np.int32),
        }
    raise ValueError(name)


KEY_COLS = {
    "customer": ["c_custkey"], "supplier": ["s_suppkey"], "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "documents": ["doc_id"], "embeddings": ["vec_id"],
}
# the column whose values the seed permutes across ids
PERMUTED = {"documents": "text", "embeddings": "embedding"}


def _take(col, idx):
    return col.take(pa.array(idx)) if isinstance(col, pa.Array) else [col[j] for j in idx]


def _shard(cols, name, off, i):
    """ScaleStudy.shard: offset every key column; rotate the corpus
    alphabet per shard so cross-shard copies are genuinely dissimilar."""
    out = dict(cols)
    for k in KEY_COLS[name]:
        out[k] = np.asarray(cols[k], dtype=np.int64) + off
    if name == "documents" and i > 0:
        r = i % len(ALPHA)
        table = str.maketrans(ALPHA, ALPHA[r:] + ALPHA[:r])
        out["text"] = [t.translate(table) for t in cols["text"]]
    return out


def _to_arrow(cols):
    arrays = {}
    for k, v in cols.items():
        if isinstance(v, pa.Array):
            arrays[k] = v
        else:
            a = np.asarray(v)
            arrays[k] = pa.array(a.tolist() if a.dtype == object else a)
    return pa.table(arrays)


def variant_of(seed):
    return int(seed) % VARIANTS


def generate(workload, seed, out_dir):
    """Writes <out_dir>/<table>.parquet for the workload; returns
    {table: {"rows": n, "bytes": b}}."""
    if workload not in TABLES:
        raise SystemExit(f"unknown workload {workload!r}")
    os.makedirs(out_dir, exist_ok=True)
    variant = variant_of(seed)
    vrng = np.random.default_rng([variant, 11])
    srng = np.random.default_rng([int(seed), 7])
    shards = SHARDS[workload]
    # a multiple of shards*STRIDE that keeps keys < 2^31
    off0 = (3 + 7 * variant) % (20 // shards) * shards * STRIDE
    report = {}
    for name in TABLES[workload]:
        base = base_table(name)
        n = SIZES[name]
        if name in PERMUTED:
            c = PERMUTED[name]
            base[c] = _take(base[c], vrng.permutation(n))
        if name == "documents":  # the shard rotation keeps lengths
            base["n_chars"] = np.array([len(t) for t in base["text"]], np.int64)
        parts = [_to_arrow(_shard(base, name, off0 + i * STRIDE, i)) for i in range(shards)]
        table = pa.concat_tables(parts)
        table = table.take(pa.array(srng.permutation(table.num_rows)))
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, compression="snappy")
        report[name] = {"rows": table.num_rows, "bytes": os.path.getsize(path)}
    return report


if __name__ == "__main__":
    if len(sys.argv) != 4:
        raise SystemExit(__doc__)
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])))
