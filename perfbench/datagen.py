"""Seeded TPC-H-shaped tables for the benchmark.

The tables have the schema of the repository's test data (``region``,
``nation``, ``customer``, ``supplier``, ``part``, ``orders``,
``lineitem``), at TPC-H scale factor ``sf``: 150k orders and 600k
line items at sf 0.1.  The same seed always writes the same bytes'
worth of rows; a different seed draws different values with the same
sizes and distributions, so timings stay comparable across seeds.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                       "5-LOW"])
PART_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                       "STANDARD"])
PART_WORDS = np.array(["almond", "blue", "bolt", "hot", "large", "nut",
                       "ring", "screw", "steel", "tin"])
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

#: o_orderdate spans these whole years, so a table partitioned by
#: order year has one partition per year.
FIRST_YEAR, LAST_YEAR = 1992, 1998
_EPOCH = dt.datetime(1970, 1, 1)
_DAY_US = 86_400_000_000


def _day_us(year: int) -> int:
    return (dt.datetime(year, 1, 1) - _EPOCH).days * _DAY_US


def _money(rng: np.random.Generator, lo: float, hi: float, n: int):
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}{i:09d}" for i in range(n)])


def make_tables(seed: int, sf: float,
                lineitem: bool = True) -> dict[str, pa.Table]:
    """Every table as an Arrow table, drawn from ``seed``.  ``lineitem``
    is drawn last, so leaving it out leaves the others unchanged."""
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = 4 * n_ord
    i32 = pa.int32()

    region = pa.table({"r_regionkey": pa.array(range(5), i32),
                       "r_name": REGIONS})
    nation = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    customer = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": _names("Customer#", n_cust),
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": SEGMENTS[rng.integers(0, 5, n_cust)]})
    supplier = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": _names("Supplier#", n_supp),
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    w1 = PART_WORDS[rng.integers(0, len(PART_WORDS), n_part)]
    w2 = PART_WORDS[rng.integers(0, len(PART_WORDS), n_part)]
    part = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(w1, " "), w2),
        "p_brand": np.char.add("Brand#",
                               rng.integers(1, 26, n_part).astype(str)),
        "p_type": PART_TYPES[rng.integers(0, len(PART_TYPES), n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": _money(rng, 900.0, 2100.0, n_part)})

    lo_us, hi_us = _day_us(FIRST_YEAR), _day_us(LAST_YEAR + 1)
    order_days = rng.integers(lo_us // _DAY_US, hi_us // _DAY_US, n_ord)
    orders = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[
            rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 850.0, 550_000.0, n_ord),
        "o_orderdate": pa.array(order_days * _DAY_US, pa.timestamp("us")),
        "o_orderpriority": PRIORITIES[rng.integers(0, 5, n_ord)]})

    tables = {"region": region, "nation": nation, "customer": customer,
              "supplier": supplier, "part": part, "orders": orders}
    if not lineitem:
        return tables

    l_order = rng.integers(0, n_ord, n_line).astype(np.int64)
    quantity = rng.integers(1, 51, n_line).astype(np.float64)
    ship_days = order_days[l_order] + rng.integers(1, 122, n_line)
    items = pa.table({
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": quantity,
        "l_extendedprice": np.round(
            quantity * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[
            rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": pa.array(ship_days * _DAY_US, pa.timestamp("us"))})
    return {**tables, "lineitem": items}


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> dict[str, str]:
    """One ``<name>.parquet`` per table under ``out_dir``; returns paths."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {}
    for name, table in tables.items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, paths[name])
    return paths
