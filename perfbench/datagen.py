"""Seeded TPC-H-shaped tables for the benchmark's knowledge graph.

graft derives its triple store from a star schema (region, nation,
supplier, customer, part, orders, lineitem); see `KG.baseEdges`. This module
writes those seven tables as parquet, with the same column names and types
as the TPC-H-ish testdata the engine is developed against, so the KG, the
entity dictionary and the DuckDB oracle SQL all apply unchanged.

The tables depend only on `(sf, seed)`. Their row counts go to `sizes.json`
in the same directory, where the benchmark program reads them. Keys are dense from 0, as in the
testdata, so the anchors the query generator draws always exist.
"""
import json
import os

import duckdb
import numpy as np

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
TABLES = ["region", "nation", "supplier", "customer", "part", "orders",
          "lineitem"]


def sizes(sf):
    """Row counts at scale factor `sf` (TPC-H ratios)."""
    return {
        "supplier": max(20, int(10_000 * sf)),
        "customer": max(50, int(150_000 * sf)),
        "part": max(50, int(200_000 * sf)),
        "orders": max(100, int(1_500_000 * sf)),
        "lines_per_order": 4,
    }


def generate(out_dir, sf, seed):
    """Write the seven tables under `out_dir` (one `<name>.parquet` each)."""
    n = sizes(sf)
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "sizes.json"), "w") as fh:
        json.dump(n, fh)
    con = duckdb.connect()

    region = np.arange(5, dtype=np.int32)
    nation = np.arange(25, dtype=np.int32)
    supp = np.arange(n["supplier"], dtype=np.int64)
    cust = np.arange(n["customer"], dtype=np.int64)
    part = np.arange(n["part"], dtype=np.int64)
    orders = np.arange(n["orders"], dtype=np.int64)
    n_lines = n["orders"] * n["lines_per_order"]

    frames = {
        "region": {"r_regionkey": region,
                   "r_name": np.array([f"REGION_{i}" for i in region])},
        "nation": {"n_nationkey": nation,
                   "n_name": np.array([f"NATION_{i}" for i in nation]),
                   "n_regionkey": (nation % 5).astype(np.int32)},
        "supplier": {"s_suppkey": supp,
                     "s_name": np.array([f"SUPPLIER_{i}" for i in supp]),
                     "s_nationkey": rng.integers(0, 25, supp.size).astype(np.int32),
                     "s_acctbal": np.round(rng.uniform(-999, 9999, supp.size), 2)},
        "customer": {"c_custkey": cust,
                     "c_name": np.array([f"CUSTOMER_{i}" for i in cust]),
                     "c_nationkey": rng.integers(0, 25, cust.size).astype(np.int32),
                     "c_acctbal": np.round(rng.uniform(-999, 9999, cust.size), 2),
                     "c_mktsegment": np.array(SEGMENTS)[
                         rng.integers(0, len(SEGMENTS), cust.size)]},
        "part": {"p_partkey": part,
                 "p_name": np.array([f"PART_{i}" for i in part]),
                 "p_size": rng.integers(1, 51, part.size).astype(np.int32),
                 "p_retailprice": np.round(rng.uniform(900, 2100, part.size), 2)},
        "orders": {"o_orderkey": orders,
                   "o_custkey": rng.integers(0, cust.size, orders.size).astype(np.int64),
                   "o_totalprice": np.round(rng.uniform(800, 500_000, orders.size), 2)},
        "lineitem": {"l_orderkey": rng.integers(0, orders.size, n_lines).astype(np.int64),
                     "l_partkey": rng.integers(0, part.size, n_lines).astype(np.int64),
                     "l_suppkey": rng.integers(0, supp.size, n_lines).astype(np.int64),
                     "l_quantity": rng.integers(1, 51, n_lines).astype(np.float64)},
    }
    for name in TABLES:
        con.register("frame", _arrow(frames[name]))
        con.execute(f"COPY (SELECT * FROM frame) TO "
                    f"'{os.path.join(out_dir, name)}.parquet' (FORMAT PARQUET)")
        con.unregister("frame")
    con.close()


def _arrow(cols):
    import pyarrow as pa
    return pa.table({k: pa.array(v) for k, v in cols.items()})
