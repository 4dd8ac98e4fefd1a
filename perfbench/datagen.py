"""Seeded inputs for the benchmark.

Two kinds of input, both a pure function of the seed:

- ``write_tables``: the oracle tables a workload reads (the TPC-H-like
  star schema and ``events``) at a scale factor, with the same schemas,
  value domains and row counts per sf as the fixed test corpora the
  registry queries were written against. Each table draws from its own
  random stream, so a table's contents do not depend on which other
  tables are generated.
- ``write_qcew_corpus``: fixed-width QCEW quarter files built by the
  repository's own fixture line generator, driven by ``random.Random(seed)``.
"""

from __future__ import annotations

import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: rows per table at sf=1 (the test corpora scale linearly with sf)
ROWS_AT_SF1 = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
PART_ADJ = ["large", "hot", "blue", "small", "red", "green", "dark", "light"]
PART_NOUN = ["ring", "bolt", "nut", "gear", "pipe", "valve", "plate", "spring"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
DAY_US = 86_400_000_000
#: every table this module can generate; a table's index seeds its stream
TABLE_ORDER = ("region", "nation", "customer", "supplier", "part", "orders",
               "lineitem", "events")


def _days(start: str, end: str) -> tuple[int, int]:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return int(lo), int(hi)


def _dates(rng: np.random.Generator, n: int, start: str, end: str) -> pa.Array:
    lo, hi = _days(start, end)
    days = rng.integers(lo, hi + 1, n)
    return pa.array(days * DAY_US, pa.int64()).cast(pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _columns(name: str, rng: np.random.Generator, n: dict[str, int],
             users: int) -> dict[str, pa.Array]:
    """One table's columns; foreign keys only need the other tables' sizes."""
    if name == "region":
        return {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(REGIONS),
        }
    if name == "nation":
        return {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }
    if name == "customer":
        nc = n["customer"]
        return {
            "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
            "c_name": _names("Customer", nc),
            "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
            "c_mktsegment": _pick(rng, SEGMENTS, nc),
        }
    if name == "supplier":
        ns = n["supplier"]
        return {
            "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
            "s_name": _names("Supplier", ns),
            "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns)),
        }
    if name == "part":
        np_ = n["part"]
        return {
            "p_partkey": pa.array(np.arange(np_, dtype=np.int64)),
            "p_name": pa.array(
                [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                 zip(rng.integers(0, 8, np_), rng.integers(0, 8, np_))]
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, np_)]),
            "p_type": _pick(rng, PART_TYPES, np_),
            "p_size": pa.array(rng.integers(1, 51, np_).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900 + (np.arange(np_) % 20000) * 0.1, 2)),
        }
    if name == "orders":
        no = n["orders"]
        return {
            "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n["customer"], no).astype(np.int64)),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, no)),
            "o_orderdate": _dates(rng, no, "1995-01-01", "2001-08-01"),
            "o_orderpriority": _pick(rng, PRIORITIES, no),
        }
    if name == "lineitem":
        nl = n["lineitem"]
        return {
            "l_orderkey": pa.array(rng.integers(0, n["orders"], nl).astype(np.int64)),
            "l_partkey": pa.array(rng.integers(0, n["part"], nl).astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl).astype(np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, nl)),
            "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
            "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
            "l_linestatus": _pick(rng, ["F", "O"], nl),
            "l_shipdate": _dates(rng, nl, "1995-01-02", "2001-11-04"),
        }
    if name == "events":
        ne = n["events"]
        t0 = int(np.datetime64("2024-01-01", "us").astype(np.int64))
        ts = np.sort(rng.integers(t0, t0 + 30 * DAY_US, ne))
        return {
            "event_id": pa.array(np.arange(ne, dtype=np.int64)),
            "ts": pa.array(ts, pa.int64()).cast(pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, users, ne).astype(np.int64)),
            "event_type": _pick(rng, EVENT_TYPES, ne),
            "value": pa.array(np.round(rng.exponential(50.0, ne), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
        }
    raise ValueError(f"no generator for table {name!r}")


def build_tables(seed: int, sf: float, names) -> dict[str, pa.Table]:
    """The named tables as Arrow tables (deterministic in ``seed`` and
    ``sf``; each table from its own random stream)."""
    n = {t: max(1, round(c * sf)) for t, c in ROWS_AT_SF1.items()}
    users = max(1, round(15_000 * sf))
    return {
        t: pa.table(_columns(t, np.random.default_rng([seed, TABLE_ORDER.index(t)]), n, users))
        for t in names
    }


def write_tables(out_dir: str, seed: int, sf: float, names) -> dict[str, int]:
    """Write ``{table}.parquet`` for the named tables; returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in build_tables(seed, sf, names).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows


def write_qcew_corpus(
    out_dir: str, seed: int, lines_per_file: int
) -> dict[str, int]:
    """Eight quarter files (2 years x 4 quarters) under ``out_dir/{year}/``.

    Returns the corpus size: files, lines, non-blank lines and bytes.
    """
    from tests.qcew_fixtures import gen_quarter_file

    rng = random.Random(seed)
    lines = nonblank = size = 0
    for year in (2015, 2016):
        for qtr in (1, 2, 3, 4):
            path = os.path.join(out_dir, str(year), f"eqin{year}{qtr}.txt")
            gen_quarter_file(path, year, qtr, lines_per_file, rng)
            with open(path, encoding="latin-1") as f:
                text = f.read().splitlines()
            lines += len(text)
            nonblank += sum(1 for t in text if t.strip())
            size += os.path.getsize(path)
    return {"files": 8, "lines": lines, "nonblank_lines": nonblank, "bytes": size}
