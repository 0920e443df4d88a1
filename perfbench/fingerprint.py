"""Order-insensitive result fingerprints.

A fingerprint is the row count plus a 64-bit hash of the multiset of
rows: each row is rendered canonically (columns in name order, floats to
six significant digits so a change of summation order cannot flip it),
hashed, and the hashes are summed modulo 2**64. The same canonical form
is applied to Spark rows and DuckDB rows, so an oracle cross-check is a
plain equality test.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math

_MASK = (1 << 64) - 1


def canon(v) -> str:
    if v is None:
        return "~"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "NaN"
        if f == 0.0:
            return "0"
        return f"{f:.6g}"
    if isinstance(v, str):
        return repr(v)
    if isinstance(v, (dt.datetime, dt.date, dt.time)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, dict):
        return "{" + ",".join(sorted(f"{canon(k)}:{canon(x)}" for k, x in v.items())) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if hasattr(v, "tolist"):  # numpy scalars and arrays
        return canon(v.tolist())
    return repr(v)


def fingerprint(columns: list[str], rows) -> dict:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    acc = 0
    n = 0
    for row in rows:
        text = "\x1f".join(canon(row[i]) for i in order)
        digest = hashlib.blake2b(text.encode(), digest_size=8).digest()
        acc = (acc + int.from_bytes(digest, "little")) & _MASK
        n += 1
    header = ",".join(columns[i] for i in order)
    return {"rows": n, "hash": f"{acc:016x}", "columns": header}


def spark_fingerprint(df) -> dict:
    return fingerprint(df.columns, df.collect())


def duckdb_fingerprint(con, sql: str) -> dict:
    res = con.execute(sql)
    cols = [d[0] for d in res.description]
    return fingerprint(cols, res.fetchall())


def duckdb_connection(sf_dir, tables):
    """A DuckDB connection with one view per table; a table is one parquet
    file or a directory of part files."""
    import duckdb

    con = duckdb.connect()
    for t in tables:
        path = sf_dir / f"{t}.parquet"
        if path.is_dir():
            path = path / "*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con
