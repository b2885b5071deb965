"""Deterministic TPC-H-shaped tables for the benchmark graph.

The engine's loader (graft.sources.GraphLoader) projects these eight
columns sets into a property graph: each table is a node label, each
foreign key an edge type. Sizes scale like TPC-H with the scale factor
`sf`; every part is referenced by at least one line item and every order
has at least one line, so the loaded graph is one connected component,
as the call-procedure oracles assume.

    python3 perfbench/datagen.py <out_dir> <sf>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20260417
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["F", "O", "P"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLORS = ["blue", "red", "green", "small", "large", "shiny"]
THINGS = ["bolt", "widget", "ring", "gear", "nut", "screw"]


def tables(sf):
    rng = np.random.RandomState(DATA_SEED)
    n_supp = max(10, int(round(10000 * sf)))
    n_cust = max(150, int(round(150000 * sf)))
    n_part = max(200, int(round(200000 * sf)))
    n_ord = max(1500, int(round(1500000 * sf)))

    def money(n, lo, hi):
        return np.round(rng.uniform(lo, hi, n), 2)

    def dates(n, start="1995-01-01", days=2500):
        base = np.datetime64(start, "us")
        return base + rng.randint(0, days, n).astype("timedelta64[D]")

    region = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": REGIONS,
    })
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.randint(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(n_supp, -999, 9999),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.randint(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(n_cust, -999, 9999),
        "c_mktsegment": [SEGMENTS[i] for i in rng.randint(0, 5, n_cust)],
    })
    color = rng.randint(0, len(COLORS), n_part)
    thing = rng.randint(0, len(THINGS), n_part)
    part = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{COLORS[c]} {THINGS[t]}" for c, t in zip(color, thing)],
        "p_brand": [f"Brand#{b}" for b in rng.randint(1, 26, n_part)],
        "p_type": [PTYPES[i] for i in rng.randint(0, len(PTYPES), n_part)],
        "p_size": pa.array(rng.randint(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(n_part) * 0.1, 2),
    })
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.randint(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [STATUSES[i] for i in rng.randint(0, 3, n_ord)],
        "o_totalprice": money(n_ord, 1000, 500000),
        "o_orderdate": pa.array(dates(n_ord), pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[i] for i in rng.randint(0, 5, n_ord)],
    })
    # 1..7 lines per order, unique (orderkey, linenumber); the first
    # n_part lines cover every part once
    per = rng.randint(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), per)
    lnum = np.concatenate([np.arange(1, k + 1) for k in per])
    n_li = len(okey)
    pkey = rng.randint(0, n_part, n_li)
    pkey[rng.permutation(n_li)[:n_part]] = np.arange(n_part)
    lineitem = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(pkey, pa.int64()),
        "l_suppkey": pa.array(rng.randint(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": rng.randint(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(n_li, 900, 100000),
        "l_discount": np.round(rng.randint(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.randint(0, 9, n_li) / 100.0, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.randint(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.randint(0, 2, n_li)],
        "l_shipdate": pa.array(dates(n_li), pa.timestamp("us")),
    })
    return {"region": region, "nation": nation, "supplier": supplier,
            "customer": customer, "part": part, "orders": orders,
            "lineitem": lineitem}


def ensure(out_dir, sf):
    """Write the tables once; a `_DONE` marker makes reruns free."""
    done = os.path.join(out_dir, "_DONE")
    if os.path.exists(done):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(sf).items():
        tmp = os.path.join(out_dir, f".{name}.parquet.tmp")
        pq.write_table(t, tmp)
        os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))
    with open(done, "w") as f:
        f.write(f"sf={sf} seed={DATA_SEED}\n")
    return out_dir


if __name__ == "__main__":
    ensure(sys.argv[1], float(sys.argv[2]))
