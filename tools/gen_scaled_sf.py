"""Reconstruct a larger scale-factor test directory from sf0.1.

The driver's round-end measurement escalates to sf1.0, but only
sf{0.001,0.01,0.1} ship in /root/testdata. This tool rebuilds an
sf1.0-shaped directory for local perf validation (never correctness —
the driver checks correctness at the small SFs):

* TPC-H-like tables (lineitem/orders/customer/part/supplier): 10
  replicas of sf0.1 with all join keys offset by replica stride
  (orderkey +150k, custkey +15k, partkey +20k, suppkey +1k per
  replica). FK consistency and every value distribution are preserved;
  `page_id = l_orderkey % 500` stays uniform over the same 500 pages
  (strides are multiples of 500), so per-page cardinality grows 10x
  exactly as in the driver's sf1.0 run. Within-replica duplicate
  lineitem rows survive; key offsets prevent cross-replica duplicates.
* documents: regenerated from the inferred generator rules measured on
  sf0.01/sf0.1 (30-word uniform vocab, doc length ~ U(10,100) tokens,
  lang en 40% / 4x15%, source uniform over src0..19, ~5% near-dups =
  an earlier doc's text + " dup"). Regeneration (not word-suffix
  replication) keeps the *natural shingle-collision structure* of the
  tiny vocabulary — replication with a suffix bijection would multiply
  the vocab and understate dedup-family costs at scale.
* embeddings: fresh unit-normalized N(0,1) 64-d float32 vectors
  (matches measured sf0.1 marginals: unit norms, |x|~0.1 mean, no
  high-cosine pairs), labels uniform 0..9. Count scales with the factor
  (2000 at sf0.1 -> 20000 at sf1.0, the driver's count).
* events: regenerated (ts sorted over 30 days of 2024-01, user_id
  uniform over 15000*sf users, 5 uniform event types, value ~
  Exp(mean 50) rounded to 2dp, props {"k": U(0,99)}).

Row-group size is pinned to 1 Mi rows so the parquet split structure
matches the driver's layout (sf1.0 lineitem = 6 row groups, every
other table 1-2 — the scan-parallelism "floor" documented in
OPTIMIZATION_r07.md depends on this).

Usage: python tools/gen_scaled_sf.py /root/testdata/sf0.1 /root/sf1.0 10
"""
import json
import os
import sys

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = [
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "the",
    "row", "agg", "key", "query", "a", "scan", "batch",
]
LANGS = ["en", "de", "es", "fr", "zh"]
ROW_GROUP = 1 << 20

# per-replica key strides, measured from the sf0.1 key ranges
STRIDES = {"orderkey": 150_000, "custkey": 15_000, "partkey": 20_000,
           "suppkey": 1_000}


def replicate_tpch(src: str, dst: str, factor: int) -> None:
    con = duckdb.connect()
    plans = {
        "lineitem": ("l_orderkey + r*{orderkey} as l_orderkey, "
                     "l_partkey + r*{partkey} as l_partkey, "
                     "l_suppkey + r*{suppkey} as l_suppkey, "
                     "l_linenumber, l_quantity, l_extendedprice, "
                     "l_discount, l_tax, l_returnflag, l_linestatus, "
                     "l_shipdate"),
        "orders": ("o_orderkey + r*{orderkey} as o_orderkey, "
                   "o_custkey + r*{custkey} as o_custkey, "
                   "o_orderstatus, o_totalprice, o_orderdate, "
                   "o_orderpriority"),
        "customer": ("c_custkey + r*{custkey} as c_custkey, c_name, "
                     "c_nationkey, c_acctbal, c_mktsegment"),
        "part": ("p_partkey + r*{partkey} as p_partkey, p_name, "
                 "p_brand, p_type, p_size, p_retailprice"),
        "supplier": ("s_suppkey + r*{suppkey} as s_suppkey, s_name, "
                     "s_nationkey, s_acctbal"),
    }
    for tbl, proj in plans.items():
        proj = proj.format(**STRIDES)
        con.execute(
            f"COPY (SELECT {proj} FROM read_parquet('{src}/{tbl}.parquet'), "
            f"range({factor}) t(r) ORDER BY r) TO '{dst}/{tbl}.parquet' "
            f"(FORMAT PARQUET, ROW_GROUP_SIZE {ROW_GROUP})")
        print(f"  {tbl}: replicated x{factor}")
    for tbl in ("nation", "region"):
        con.execute(f"COPY (SELECT * FROM read_parquet('{src}/{tbl}.parquet'))"
                    f" TO '{dst}/{tbl}.parquet' (FORMAT PARQUET)")


def gen_documents(dst: str, n: int, rng: np.random.RandomState) -> None:
    texts = []
    langs = []
    sources = []
    lang_idx = rng.choice(5, size=n, p=[0.4, 0.15, 0.15, 0.15, 0.15])
    for i in range(n):
        if i > 0 and rng.random_sample() < 0.05:
            texts.append(texts[rng.randint(0, i)] + " dup")
        else:
            length = rng.randint(10, 101)
            texts.append(" ".join(
                VOCAB[w] for w in rng.randint(0, len(VOCAB), size=length)))
        langs.append(LANGS[lang_idx[i]])
        sources.append(f"src{rng.randint(0, 20)}")
    tab = pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(tab, f"{dst}/documents.parquet", row_group_size=ROW_GROUP)
    print(f"  documents: generated {n}")


def gen_embeddings(dst: str, n: int, rng: np.random.RandomState) -> None:
    vecs = rng.standard_normal((n, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tab = pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.randint(0, 10, size=n).tolist(), pa.int32()),
    })
    pq.write_table(tab, f"{dst}/embeddings.parquet", row_group_size=ROW_GROUP)
    print(f"  embeddings: generated {n}")


def gen_events(dst: str, n: int, n_users: int,
               rng: np.random.RandomState) -> None:
    span_us = 30 * 24 * 3600 * 1_000_000
    base = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.randint(0, span_us, size=n).astype("timedelta64[us]"))
    types = np.array(["view", "click", "purchase", "signup", "error"])
    tab = pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array(base + offs),
        "user_id": pa.array(rng.randint(0, n_users, size=n), pa.int64()),
        "event_type": pa.array(types[rng.randint(0, 5, size=n)], pa.string()),
        "value": pa.array(
            np.round(rng.exponential(50.0, size=n), 2), pa.float64()),
        "props": pa.array(
            [json.dumps({"k": int(k)}) for k in rng.randint(0, 100, size=n)],
            pa.string()),
    })
    pq.write_table(tab, f"{dst}/events.parquet", row_group_size=ROW_GROUP)
    print(f"  events: generated {n}")


def main() -> None:
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    dst = sys.argv[2] if len(sys.argv) > 2 else "/root/sf1.0"
    factor = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    os.makedirs(dst, exist_ok=True)
    rng = np.random.RandomState(20260822)
    replicate_tpch(src, dst, factor)
    gen_documents(dst, 5_000 * factor, rng)
    gen_embeddings(dst, 2_000 * factor, rng)
    gen_events(dst, 100_000 * factor, 1_500 * factor, rng)
    with open(f"{dst}/_DONE", "w") as fh:
        fh.write("ok\n")
    print("done:", dst)


if __name__ == "__main__":
    main()
