"""Order-insensitive result digests and their DuckDB oracles.

The normalization follows ``tools/check_oracle.py``: columns in sorted
name order, values in a canonical form (timestamps at microsecond
precision, integral numbers as integers whatever their dtype, other
floats exact, strings as-is), rows sorted. Two results with the same
digest hold the same multiset of rows.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import json
import math
import os


def _canon(v: object) -> object:
    if v is None:
        return None
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if math.isinf(v):
            return "inf" if v > 0 else "-inf"
        if v.is_integer() and abs(v) < 2**53:
            return int(v)
        return repr(v)
    if isinstance(v, int):
        return v
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat(timespec="microseconds")
    if isinstance(v, (dt.date, dt.time)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, dict):
        return {str(k): _canon(x) for k, x in sorted(v.items(), key=lambda kv: str(kv[0]))}
    if hasattr(v, "asDict"):  # pyspark Row (struct value)
        return _canon(v.asDict(recursive=False))
    if isinstance(v, (list, tuple)):
        return [_canon(x) for x in v]
    return str(v)


def digest(columns: list[str], rows: list[tuple]) -> str:
    """Order-insensitive digest of a result: sha256 over the sorted
    column names and the sorted canonical rows."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(
        json.dumps([_canon(row[i]) for i in order], sort_keys=True)
        for row in rows
    )
    h = hashlib.sha256(json.dumps([columns[i] for i in order]).encode())
    for line in lines:
        h.update(b"\n")
        h.update(line.encode())
    return f"{len(rows)}:{h.hexdigest()[:24]}"


def spark_digest(rows: list) -> str:
    """Digest of ``DataFrame.collect()`` output (a list of Rows)."""
    columns = list(rows[0].__fields__) if rows else []
    return digest(columns, [tuple(r) for r in rows])


def duckdb_digests(
    sf_dir: str, tables: tuple[str, ...], oracles: dict[str, str]
) -> dict[str, str]:
    """Run each oracle SQL in DuckDB over the parquet tables in
    ``sf_dir`` and digest its result. An empty result digests like an
    empty Spark result (no column names), since ``collect()`` of zero
    rows carries no Row to read names from."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in tables:
            path = os.path.join(sf_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        out: dict[str, str] = {}
        for name, sql in oracles.items():
            cur = con.execute(sql)
            columns = [d[0] for d in cur.description]
            rows = cur.fetchall()
            out[name] = digest(columns if rows else [], rows)
        return out
    finally:
        con.close()
