"""Order-insensitive fingerprint of a query result.

The canonical form is the one `tools/check.py` compares: columns sorted
by name, column types normalized to what that compare can distinguish
(every signed-int width is one type, FLOAT and DOUBLE are one type),
and rows sorted by the string form of their cells, NULL first. The
fingerprint is the row count plus a SHA-256 over that form, so a result
read back from Spark's parquet and the DuckDB oracle's result agree
exactly when check.py would call them equal.
"""
import hashlib

_INTS = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT",
         "UTINYINT", "USMALLINT", "UINTEGER"}


def norm_type(t):
    t = str(t)
    if t in _INTS:
        return "int64"
    if t in ("FLOAT", "DOUBLE"):
        return "float64"
    return t


def fingerprint(rel):
    """(rows, hex digest) of a DuckDB relation."""
    cols, types, rows = rel.columns, rel.types, rel.fetchall()
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted((tuple(r[i] for i in order) for r in rows),
                   key=lambda r: tuple("\0N" if v is None else str(v) for v in r))
    h = hashlib.sha256(repr([(cols[i], norm_type(types[i])) for i in order]).encode())
    for r in canon:
        h.update(repr(r).encode())
        h.update(b"\n")
    return len(rows), h.hexdigest()
