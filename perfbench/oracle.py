"""DuckDB reference results and the order-insensitive result hash.

The reference for every (workload, seed) is computed once, before Spark
starts, and cached beside the inputs. Each timed Spark result is hashed the
same way and compared with it.
"""

from __future__ import annotations

import datetime
import hashlib
import json
import math
from decimal import Decimal
from pathlib import Path

import duckdb

REFERENCE = "reference.json"
_EXACT_INT = 2**53


def _cell(v):
    """Canonical form of one value: 12 significant digits for floats (as the
    repository's oracle comparison uses), integral floats folded to int so
    DuckDB HUGEINT/BIGINT and Spark double agree, nested values recursed."""
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "inf" if v > 0 else "-inf"
        v = float(f"{v:.12g}") + 0.0
        return int(v) if v.is_integer() and abs(v) < _EXACT_INT else v
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, dict):
        return tuple(sorted((str(k), _cell(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    return v


def result_hash(columns: list[str], rows) -> tuple[str, int]:
    """sha256 of the result with columns ordered by name and rows sorted,
    so neither column nor row order matters. Returns (hash, row count)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    norm = [tuple(_cell(r[i]) for i in order) for r in rows]
    norm.sort(key=lambda r: tuple((x is None, repr(x)) for x in r))
    h = hashlib.sha256(repr(([columns[i] for i in order], norm)).encode())
    return h.hexdigest(), len(norm)


def onebrc_sql(path: str) -> str:
    """The flagship aggregate in DuckDB: per-station min, 1-dp mean over
    exact integer cents rounded half away from zero, and max."""
    return f"""
    WITH m AS (
      SELECT * FROM read_csv('{path}', delim=';', header=false, quote='',
        escape='', auto_detect=false,
        columns={{'station': 'VARCHAR', 'measure': 'DOUBLE'}})
    ), g AS (
      SELECT station, min(measure) AS mn, max(measure) AS mx,
             sum(CAST(round(measure * 100) AS BIGINT)) AS s, count(measure) AS n
      FROM m GROUP BY station
    )
    SELECT station, mn AS min,
           CASE WHEN s >= 0 THEN floor((2 * s + 10 * n) / (20 * n))
                ELSE -floor((2 * (-s) + 10 * n) / (20 * n)) END / 10.0 + 0.0 AS mean,
           mx AS max
    FROM g ORDER BY station
    """


def compute(input_dir: Path, sql_by_name: dict[str, str]) -> dict[str, dict]:
    """Run each oracle statement over the input directory's tables (one view
    per parquet file) and return {name: {"hash", "rows"}}."""
    con = duckdb.connect()
    try:
        con.sql("SET threads TO 4")
        con.sql(f"SET temp_directory = '{input_dir / 'duckdb_tmp'}'")
        for f in sorted(input_dir.glob("*.parquet")):
            con.sql(f"CREATE VIEW {f.stem} AS SELECT * FROM '{f}'")
        out = {}
        for name, sql in sql_by_name.items():
            rel = con.sql(sql)
            digest, n = result_hash(list(rel.columns), rel.fetchall())
            out[name] = {"hash": digest, "rows": n}
        return out
    finally:
        con.close()


def cached(input_dir: Path, sql_by_name: dict[str, str]) -> dict[str, dict]:
    """compute(), cached in the input directory under the statements' hash."""
    key = hashlib.sha256(json.dumps(sql_by_name, sort_keys=True).encode()).hexdigest()
    path = input_dir / REFERENCE
    if path.exists():
        saved = json.loads(path.read_text())
        if saved.get("key") == key:
            return saved["results"]
    results = compute(input_dir, sql_by_name)
    path.write_text(json.dumps({"key": key, "results": results}, indent=1))
    return results
