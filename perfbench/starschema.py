"""Seeded generator for the star-schema parquet tables the relational
queries read (region, nation, customer, supplier, part, orders, lineitem).

Same column names, types and value shapes as the engine's TPC-H-like
fixtures: prices carry two decimals, discounts and taxes are whole
percents, dates are midnight ``timestamp[us]`` values. Row counts scale
with ``sf`` exactly like the fixtures (``lineitem`` = 6 000 000 x sf).
The same (seed, sf) always writes the same rows.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem")

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EPOCH = np.datetime64(dt.datetime(1995, 1, 1), "us")
_DAY_US = 86_400 * 1_000_000


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    cents = rng.integers(int(lo * 100), int(hi * 100), size=n)
    return np.round(cents / 100.0, 2)


def _dates(rng: np.random.Generator, n: int, days: int) -> pa.Array:
    us = _EPOCH.astype(np.int64) + rng.integers(0, days, size=n) * _DAY_US
    return pa.array(us, pa.timestamp("us"))


def _labels(prefix: str, keys: np.ndarray) -> list[str]:
    return [f"{prefix}#{k:09d}" for k in keys]


def generate(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write one ``<table>.parquet`` per table under ``out_dir`` and
    return the row count of each."""
    rng = np.random.default_rng([seed, 20_250_101])
    n_cust = max(1, int(150_000 * sf))
    n_supp = max(1, int(10_000 * sf))
    n_part = max(1, int(200_000 * sf))
    n_ord = max(1, int(1_500_000 * sf))
    n_line = max(1, int(6_000_000 * sf))

    cust_keys = np.arange(n_cust, dtype=np.int64)
    supp_keys = np.arange(n_supp, dtype=np.int64)
    part_keys = np.arange(n_part, dtype=np.int64)
    ord_keys = np.arange(n_ord, dtype=np.int64)
    retail = np.round(900.0 + rng.integers(0, 1000, size=n_part) / 10.0, 1)

    qty = rng.integers(1, 51, size=n_line).astype(np.float64)
    partkey = rng.integers(0, n_part, size=n_line)
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": _REGIONS}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        "customer": pa.table({
            "c_custkey": cust_keys,
            "c_name": _labels("Customer", cust_keys),
            "c_nationkey": pa.array(rng.integers(0, 25, size=n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, size=n_cust)]}),
        "supplier": pa.table({
            "s_suppkey": supp_keys,
            "s_name": _labels("Supplier", supp_keys),
            "s_nationkey": pa.array(rng.integers(0, 25, size=n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)}),
        "part": pa.table({
            "p_partkey": part_keys,
            "p_name": [f"part {k}" for k in part_keys],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, size=n_part)],
            "p_type": [("ECONOMY", "SMALL", "LARGE", "MEDIUM", "PROMO")[t]
                       for t in rng.integers(0, 5, size=n_part)],
            "p_size": pa.array(rng.integers(1, 51, size=n_part), pa.int32()),
            "p_retailprice": retail}),
        "orders": pa.table({
            "o_orderkey": ord_keys,
            "o_custkey": rng.integers(0, n_cust, size=n_ord),
            "o_orderstatus": [("F", "O", "P")[s]
                              for s in rng.integers(0, 3, size=n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _dates(rng, n_ord, 2400),
            "o_orderpriority": [_PRIORITIES[p]
                                for p in rng.integers(0, 5, size=n_ord)]}),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, n_ord, size=n_line),
            "l_partkey": partkey,
            "l_suppkey": rng.integers(0, n_supp, size=n_line),
            "l_linenumber": pa.array(rng.integers(1, 8, size=n_line), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * retail[partkey], 2),
            "l_discount": rng.integers(0, 11, size=n_line) / 100.0,
            "l_tax": rng.integers(0, 9, size=n_line) / 100.0,
            "l_returnflag": [("A", "N", "R")[f]
                             for f in rng.integers(0, 3, size=n_line)],
            "l_linestatus": [("F", "O")[s]
                             for s in rng.integers(0, 2, size=n_line)],
            "l_shipdate": _dates(rng, n_line, 2500)}),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
