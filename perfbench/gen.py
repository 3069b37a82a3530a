"""Seeded TPC-H-ish input generator for the benchmark.

Writes the tables the graph builders and oracles read (``orders``,
``lineitem``, ``customer``, ``supplier``) as parquet.  The shapes follow the
uniform TPC-H-ish testdata the engine is developed against: per scale
factor ``sf`` there are 150,000·sf customers, 10,000·sf suppliers,
200,000·sf parts and 1,500,000·sf orders; each order has Poisson(4) line
items with a uniform part and supplier, and each order a uniform customer.

The graph structure is drawn from a fixed seed per scale factor.  The
run's seed draws the vertex ids: for customers, suppliers and parts a
random, order-preserving relabeling into a wide id space.  The seed so
moves every id, and with it hash partitioning and the bytes on disk, while
the min-label tie-breaks of Louvain, CC and LPA, and hence their iteration
counts, stay the same from seed to seed.  Customer and supplier ids stay
below 1,000,000, the offset ``build_cs_graph`` adds to supplier keys.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STRUCTURE_SEED = 20_240_601
ID_BOUND = 1_000_000  # build_cs_graph's supplier offset
PART_ID_BOUND = 1 << 30


def relabel(rng: np.random.Generator, n: int, bound: int) -> np.ndarray:
    """``n`` distinct ids below ``bound``, increasing, drawn from ``rng``."""
    return np.sort(rng.choice(bound, n, replace=False)).astype(np.int64)


def generate(out_dir: str, seed: int, sf: float) -> dict:
    """Write the tables to ``out_dir``; return their row counts."""
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)

    srng = np.random.default_rng(STRUCTURE_SEED)
    o_cust = srng.integers(0, n_cust, n_ord)
    per_order = srng.poisson(4.0, n_ord)
    l_ord = np.repeat(np.arange(n_ord, dtype=np.int64), per_order)
    l_part = srng.integers(0, n_part, len(l_ord))
    l_supp = srng.integers(0, n_supp, len(l_ord))
    c_nat = srng.integers(0, 25, n_cust).astype(np.int32)
    s_nat = srng.integers(0, 25, n_supp).astype(np.int32)

    rng = np.random.default_rng(seed)
    cust_ids = relabel(rng, n_cust, ID_BOUND)
    supp_ids = relabel(rng, n_supp, ID_BOUND)
    part_ids = relabel(rng, n_part, PART_ID_BOUND)

    tables = {
        "orders": {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": cust_ids[o_cust],
        },
        "lineitem": {
            "l_orderkey": l_ord,
            "l_partkey": part_ids[l_part],
            "l_suppkey": supp_ids[l_supp],
        },
        "customer": {"c_custkey": cust_ids, "c_nationkey": c_nat},
        "supplier": {"s_suppkey": supp_ids, "s_nationkey": s_nat},
    }
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = len(next(iter(cols.values())))
    return rows
