"""Seeded input generator for the benchmark.

Every table is a pure function of (seed, workload): the same seed gives
byte-identical inputs. Shapes follow the TPC-H-like tables the query
battery reads (column names and types match what `graft.Tables` and the
DuckDB oracle SQL expect), scaled down so a run fits its time budget.

    python3 perfbench/gen.py <workload> <seed> <out_dir>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows per workload; NOTES.md explains the sizing
SIZES = {
    "oltp_mix": {"orders": 40_000},
    "mv_maintain": {"orders": 10_000, "events": 20_000, "documents": 400},
}

VOCAB = ("data spark scan sort merge join column order value batch part "
         "line small fast slow index table query vector customer region "
         "stream window shard cache write read plan stage task shuffle "
         "key row page block").split()
FLAGS = np.array(["A", "N", "R"])
PRIOS = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                  "5-LOW"])
ETYPES = np.array(["click", "view", "purchase", "error", "login"])
DAY_US = 86_400 * 1_000_000
EPOCH_1992_US = 694_224_000 * 1_000_000


def ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def orders_lineitem(rng, n_orders, n_cust, n_part, n_supp):
    okey = np.arange(n_orders, dtype=np.int64)
    orders = {
        "o_orderkey": okey,
        "o_custkey": rng.integers(0, n_cust, n_orders, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[
            rng.choice(3, n_orders, p=[0.49, 0.49, 0.02])],
        "o_totalprice": money(rng, 900, 450_000, n_orders),
        "o_orderdate": ts(EPOCH_1992_US +
                          rng.integers(0, 2400, n_orders) * DAY_US),
        "o_orderpriority": PRIOS[rng.integers(0, 5, n_orders)],
    }
    lines = rng.integers(1, 8, n_orders)
    n = int(lines.sum())
    lok = np.repeat(okey, lines)
    lnum = (np.arange(n) - np.repeat(np.cumsum(lines) - lines, lines) + 1)
    qty = rng.integers(1, 51, n).astype(np.float64)
    lineitem = {
        "l_orderkey": lok,
        "l_partkey": rng.integers(0, n_part, n, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n, dtype=np.int64),
        "l_linenumber": lnum.astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * money(rng, 900, 2000, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": FLAGS[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": ts(EPOCH_1992_US + rng.integers(0, 2500, n) * DAY_US),
    }
    return orders, lineitem


def events(rng, n, n_users):
    t = np.sort(rng.integers(0, 20 * DAY_US, n))
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts(1_704_067_200 * 1_000_000 + t),
        "user_id": rng.integers(0, n_users, n, dtype=np.int64),
        "event_type": ETYPES[rng.integers(0, 5, n)],
        "value": money(rng, 0, 100, n),
        "props": np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }


def documents(rng, n):
    # shared 10-word spans between docs give the dedup/graph entries work
    spans = [" ".join(rng.choice(VOCAB, 10)) for _ in range(n // 4)]
    texts = []
    for _ in range(n):
        parts = [spans[i] for i in rng.integers(0, len(spans),
                                                rng.integers(1, 4))]
        parts.append(" ".join(rng.choice(VOCAB, rng.integers(5, 40))))
        rng.shuffle(parts)
        texts.append(" ".join(parts))
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": np.array(texts),
        "lang": np.array(["en", "de", "zh", "fr"])[rng.integers(0, 4, n)],
        "source": np.array([f"src{i}" for i in rng.integers(0, 8, n)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def supplier(rng, n):
    return {
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": np.array([f"Supplier#{i:09d}" for i in range(n)]),
        "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "s_acctbal": money(rng, -999, 9999, n),
    }


def main(workload, seed, out):
    size = SIZES[workload]
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, list(SIZES).index(workload)])
    n_o = size["orders"]
    n_cust, n_part, n_supp = n_o // 10, n_o * 2 // 15, n_o // 150
    orders, lineitem = orders_lineitem(rng, n_o, n_cust, n_part, n_supp)
    write(out, "orders", orders)
    if workload == "oltp_mix":
        return
    write(out, "lineitem", lineitem)
    write(out, "events", events(rng, size["events"], 500))
    # what the ad-hoc battery entries read besides lineitem and orders
    write(out, "supplier", supplier(rng, n_supp))
    write(out, "documents", documents(rng, size["documents"]))


if __name__ == "__main__":
    main(sys.argv[1], int(sys.argv[2]), sys.argv[3])
