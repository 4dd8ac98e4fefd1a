"""Order-insensitive result hashes and the DuckDB oracle side.

The hash rule is the repository's oracle-parity rule (see
``.claude/skills/verify/SKILL.md``): columns sorted by name, every value
normalized (floats rounded to 9 decimals, tzinfo stripped from datetimes,
Decimal to float), rows stringified and sorted, then sha256 over the
joined rows. Two results with the same rows in any order hash equal.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math
import os
from decimal import Decimal

import duckdb


def normalize(v):
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        r = round(v, 9)
        return 0.0 if r == 0 else r
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return tuple(normalize(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((str(k), normalize(x)) for k, x in v.items()))
    return v


def result_hash(columns: list[str], rows) -> tuple[int, str]:
    """(row count, sha256) of a result given its column names and row tuples."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(repr(tuple(normalize(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256()
    h.update(repr([columns[i] for i in order]).encode())
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return len(lines), h.hexdigest()


def rows_close(got, want, keys: int, rel: float = 1e-9) -> bool:
    """Whether two results hold the same rows, matched on their first
    ``keys`` columns: other values equal, floats within ``rel``."""
    def keyed(rows):
        return {tuple(r[:keys]): r[keys:] for r in rows}

    g, w = keyed(got), keyed(want)
    if len(g) != len(got) or len(w) != len(want) or g.keys() != w.keys():
        return False
    for k, gv in g.items():
        for a, b in zip(gv, w[k], strict=True):
            if isinstance(a, float) or isinstance(b, float):
                if not math.isclose(a, b, rel_tol=rel, abs_tol=rel):
                    return False
            elif a != b:
                return False
    return True


def connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with one view per table file in ``sf_dir``."""
    con = duckdb.connect()
    for fname in sorted(os.listdir(sf_dir)):
        if fname.endswith(".parquet"):
            path = os.path.join(sf_dir, fname)
            con.execute(
                f"CREATE VIEW {fname[:-8]} AS SELECT * FROM read_parquet('{path}')"
            )
    return con


def duckdb_hash(con: duckdb.DuckDBPyConnection, sql: str) -> tuple[int, str]:
    rel = con.sql(sql)
    return result_hash(list(rel.columns), rel.fetchall())
