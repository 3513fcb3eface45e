"""DuckDB reference results for the benchmark, reduced to digests.

Both sides are read through DuckDB and canonicalised the way
tools/check.py does it: columns sorted by name, rows sorted. Each value
is then written in a form that is equal exactly when check.py's
comparison calls the two values equal (1 and 1.0 compare equal there, so
they share a form), and the digest is a SHA-256 over the column names and
the sorted rows.
"""
import datetime
import decimal
import hashlib
import json
import math
import os
import sys

import duckdb

TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                     "tools")


def connect(data_dir):
    """DuckDB with a view per table, as tools/check.py sets it up."""
    sys.path.insert(0, TOOLS)
    from check import TABLES
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def _number(x):
    if isinstance(x, float):
        if math.isnan(x):
            return "nan"
        if math.isinf(x):
            return "inf" if x > 0 else "-inf"
        if x.is_integer():
            return str(int(x))
        return repr(x)
    return str(x)


def _value(v):
    if v is None:
        return None
    if isinstance(v, (bool, int, float)):
        return _number(int(v) if isinstance(v, bool) else v)
    if isinstance(v, decimal.Decimal):
        if v == v.to_integral_value():
            return str(int(v))
        f = float(v)
        return repr(f) if decimal.Decimal(f) == v else "d" + str(v.normalize())
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return "t" + v.isoformat()
    if isinstance(v, datetime.date):
        return "t" + v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "x" + bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return [_value(x) for x in v]
    if isinstance(v, dict):
        return {str(k): _value(x) for k, x in sorted(v.items(), key=lambda kv: str(kv[0]))}
    return "s" + str(v)


def digest(rel):
    """(row count, digest) of a DuckDB relation."""
    cols = [d[0] for d in rel.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = sorted(json.dumps([_value(r[i]) for i in order], separators=(",", ":"))
                  for r in rel.fetchall())
    h = hashlib.sha256()
    h.update(json.dumps([cols[i] for i in order]).encode())
    for r in rows:
        h.update(b"\n")
        h.update(r.encode())
    return len(rows), h.hexdigest()


def sql_key(data_dir, sql):
    """Digests are stored per data set and oracle SQL text."""
    name = data_dir.rstrip("/").rsplit("/", 1)[-1]
    return hashlib.sha256(f"{name}\n{sql}".encode()).hexdigest()


def oracle_digest(con, sql):
    return digest(con.sql(sql))


def result_digest(con, result_dir):
    return digest(con.sql(f"SELECT * FROM '{result_dir}/*.parquet'"))
