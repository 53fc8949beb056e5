"""Order-insensitive output digests.

A digest is the sha256 of the sorted, normalized rows of a result, with
columns in name order. Floats are rounded to 12 significant digits so
that a summation-order difference in the last bits is not a failure,
while any real value change is. Spark rows, DuckDB rows and Arrow
tables all normalize to the same strings.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math


def _cell(v) -> str:
    if v is None:
        return "None"
    if hasattr(v, "item") and not isinstance(v, (list, tuple)):  # numpy scalar
        v = v.item()
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "nan"
        return format(f, ".12g")
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, dict):
        return "{" + ",".join(f"{_cell(k)}:{_cell(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if hasattr(v, "asDict"):  # pyspark Row inside a struct column
        return _cell(v.asDict())
    return str(v)


def digest(columns: list[str], rows) -> dict:
    """``{"rows": n, "digest": hex}`` for ``rows`` given as tuples in
    ``columns`` order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(
        "\x1f".join(_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256(",".join(sorted(columns)).encode())
    for line in lines:
        h.update(b"\n" + line.encode())
    return {"rows": len(lines), "digest": h.hexdigest()[:24]}


def spark_digest(df) -> dict:
    return digest(df.columns, [tuple(r) for r in df.collect()])


def duckdb_digest(con, sql: str) -> dict:
    rel = con.sql(sql)
    return digest(list(rel.columns), rel.fetchall())


def arrow_digest(table) -> dict:
    cols = table.column_names
    data = [table.column(c).to_pylist() for c in cols]
    return digest(cols, list(zip(*data)) if data else [])
