"""Order-insensitive result fingerprints for the operator queries.

A fingerprint is (row count, sha256 over the sorted canonical rows), with
columns taken in name order. The same function fingerprints the DuckDB
oracle result (`pin_queries.py`) and the Spark output the benchmark
writes, so the two compare across engines: numbers are canonicalised to
nine significant digits, timestamps to naive UTC.
"""
import datetime
import decimal
import hashlib


def canon(v):
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "B1" if v else "B0"
    if isinstance(v, (int, float, decimal.Decimal)):
        f = float(v)
        if f != f:
            return "nan"
        if f == int(f) and abs(f) < 2 ** 53:
            return str(int(f))
        return format(f, ".9g")
    if isinstance(v, str):
        return "S" + v
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "X" + bytes(v).hex()
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return "T" + v.isoformat()
    if isinstance(v, (datetime.date, datetime.time)):
        return "T" + v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{canon(k)}:{canon(x)}"
                              for k, x in sorted(v.items(), key=lambda kv: canon(kv[0]))) + "}"
    return "?" + repr(v)


def fingerprint(relation):
    """(rows, hash) of a DuckDB relation, columns in name order."""
    cols = sorted(relation.columns)
    rows = relation.select(", ".join(f'"{c}"' for c in cols)).fetchall()
    lines = sorted("|".join(canon(v) for v in r) for r in rows)
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()
    return len(rows), h


def tables(con, data_dir, names):
    for t in names:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
