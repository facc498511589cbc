"""Generate a LARGER statistically-matched copy of the driver's synthetic
testdata for PERFORMANCE MEASUREMENT ONLY (the driver's own escalated-SF
inputs are not kept on disk between sessions).

This is NOT the correctness dataset: the DuckDB oracle gate runs against
/root/testdata/sf0.01, which is driver-generated and read-only. The output
of this script lives outside /root/testdata (default /root/bigdata/sf<sf>)
and is referenced through $SPARK_GRAFT_SF_DIR by bench.py when iterating on
optimizations at sf1.0 scale (BENCH_r05.json records
sf=1.0: documents 50k, events 1M, embeddings 20k, lineitem 6M, orders
1.5M); perfbench's query suite calls ``gen`` directly at a small scale.

Distributions mirror what /root/testdata/sf0.1 exhibits (profiled in
OPTIMIZATION_r06.md): 31-word vocabulary, uniform 10..100-word docs,
~0.3% exact-dup texts, 5 langs (en-heavy), 20 sources; events over 30 days
with 5 types and {"k": 0..99} props; unit-norm 64-d embeddings with 10
labels; TPC-H-ish keys scaled linearly. Row-group size is 1M rows so files
split the way the driver's do (sf1.0 lineitem = 6 row groups of ~1M).

Usage: python tools/make_measure_data.py [sf] [outdir]
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
]
LANGS = ["en", "zh", "fr", "es", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


def _write(tbl: pa.Table, path: str) -> None:
    pq.write_table(tbl, path, row_group_size=1_000_000, compression="snappy")
    print(f"  {os.path.basename(path)}: {tbl.num_rows} rows, "
          f"{os.path.getsize(path) / 1e6:.1f} MB")


def gen(sf: float, out: str, seed: int = 42) -> None:
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)

    n_docs = int(50_000 * sf)
    n_events = int(1_000_000 * sf)
    n_emb = int(20_000 * sf)
    n_orders = int(1_500_000 * sf)
    n_cust = int(150_000 * sf)
    n_part = int(200_000 * sf)
    n_supp = int(10_000 * sf)
    n_li = int(6_000_000 * sf)

    # documents -------------------------------------------------------------
    lens = rng.integers(10, 101, n_docs)
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lens]
    n_dups = max(1, n_docs // 300)
    dup_to = rng.integers(0, n_docs, n_dups)
    dup_from = rng.integers(0, n_docs, n_dups)
    for a, b in zip(dup_to, dup_from):
        texts[int(a)] = texts[int(b)]
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P), pa.string()),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    _write(docs, f"{out}/documents.parquet")

    # events ----------------------------------------------------------------
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    span = np.timedelta64(30 * 86_400_000_000, "us")
    offs = np.sort(rng.integers(0, int(span.astype(int)), n_events))
    props = [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_events)]
    events = pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(t0 + offs.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, int(1500 * max(sf * 10, 1)), n_events), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_events)),
        "value": pa.array(np.round(rng.exponential(50.0, n_events), 2)),
        "props": pa.array(props),
    })
    _write(events, f"{out}/events.parquet")

    # embeddings ------------------------------------------------------------
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    n_near = max(1, n_emb // 150)
    src = rng.integers(0, n_emb, n_near)
    dst = rng.integers(0, n_emb, n_near)
    emb[dst] = emb[src] + 0.05 * rng.standard_normal((n_near, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })
    _write(embeddings, f"{out}/embeddings.parquet")

    # orders ----------------------------------------------------------------
    d0 = np.datetime64("1995-01-01", "us")
    odates = d0 + (rng.integers(0, 2556, n_orders) * np.timedelta64(86_400_000_000, "us"))
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_orders)),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500_000, n_orders), 2)),
        "o_orderdate": pa.array(odates),
        "o_orderpriority": pa.array(rng.choice(PRIOS, n_orders)),
    })
    _write(orders, f"{out}/orders.parquet")

    # lineitem --------------------------------------------------------------
    sdates = d0 + (rng.integers(0, 2556, n_li) * np.timedelta64(86_400_000_000, "us"))
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(float)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105_000, n_li), 2)),
        "l_discount": pa.array(np.round(rng.integers(0, 11, n_li) / 100.0, 2)),
        "l_tax": pa.array(np.round(rng.integers(0, 9, n_li) / 100.0, 2)),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_li)),
        "l_shipdate": pa.array(sdates),
    })
    _write(lineitem, f"{out}/lineitem.parquet")

    # dims ------------------------------------------------------------------
    cust = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype("int32"), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_cust), 2)),
        "c_mktsegment": pa.array(rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust)),
    })
    _write(cust, f"{out}/customer.parquet")
    part = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array([a + " " + b for a, b in zip(
            rng.choice(["large", "small", "red", "green", "blue", "shiny", "dim"], n_part),
            rng.choice(["ring", "box", "case", "bolt", "gear", "cap", "tube"], n_part))]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 10, n_part)]),
        "p_type": pa.array(rng.choice(
            ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"], n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(rng.uniform(900, 2100, n_part), 2)),
    })
    _write(part, f"{out}/part.parquet")
    supp = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype("int32"), pa.int32()),
        "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_supp), 2)),
    })
    _write(supp, f"{out}/supplier.parquet")
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype="int32"), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype("int32"), pa.int32()),
    })
    _write(nation, f"{out}/nation.parquet")
    region = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype="int32"), pa.int32()),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    _write(region, f"{out}/region.parquet")


if __name__ == "__main__":
    sf = float(sys.argv[1]) if len(sys.argv) > 1 else 1.0
    out = sys.argv[2] if len(sys.argv) > 2 else f"/root/bigdata/sf{sf}"
    gen(sf, out)
