"""Output checks against the engine's DuckDB oracles.

A query passes when its collected rows hash-match the rows its declared
oracle SQL returns in DuckDB over the same parquet files: same column names,
same row count, same order-insensitive canonical rows. Queries declared
without an oracle (sampling, approximate counts) are checked on their row
count only.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math

import duckdb

from mrcond_spark.catalog import TABLES, table_path


def _canon(v):
    if v is None:
        return ("null",)
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, (int, decimal.Decimal)):
        return ("n", decimal.Decimal(v))
    if isinstance(v, float):
        return ("nan",) if math.isnan(v) else ("f", v)
    if isinstance(v, datetime.datetime):
        return ("ts", v.replace(tzinfo=None).isoformat())
    if isinstance(v, datetime.date):
        return ("d", v.isoformat())
    if isinstance(v, (list, tuple)):
        return ("l", tuple(_canon(x) for x in v))
    return ("s", str(v))


def result_hash(cols: list[str], rows: list[tuple]) -> str:
    """Order-insensitive hash of a result; columns are taken in name order."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted(repr(tuple(_canon(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256(repr(sorted(cols)).encode())
    for line in canon:
        h.update(line.encode())
    return h.hexdigest()


def expected(sf_dir: str, sqls: dict[str, str]) -> dict[str, tuple[int, str]]:
    """Row count and result hash of each oracle SQL, run by DuckDB over views
    of the parquet tables in ``sf_dir``."""
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{table_path(sf_dir, t)}'")
        out = {}
        for name, sql in sqls.items():
            res = con.execute(sql)
            cols = [d[0] for d in res.description]
            rows = res.fetchall()
            out[name] = (len(rows), result_hash(cols, rows))
        return out
    finally:
        con.close()


def mismatch(want: tuple[int, str] | None, cols: list[str], rows: list[tuple]) -> str | None:
    """None when ``rows`` match the oracle's ``(row count, hash)``, else a
    one-line reason. A query without an oracle passes on any row count."""
    if want is None:
        return None
    n, h = want
    if n != len(rows):
        return f"row count {len(rows)} != oracle {n}"
    if h != result_hash(cols, rows):
        return "row hash differs from oracle"
    return None
