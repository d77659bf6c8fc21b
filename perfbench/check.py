"""Order-insensitive result comparison: row count plus a hash of the
canonicalized row multiset, the way ``tools/check_correctness.py`` compares
Spark output with its DuckDB oracle.

Flat results (both sides arrive as Arrow tables) are canonicalized and
hashed inside DuckDB: integers as digits, other numbers to ten significant
digits, timestamps in UTC, columns by name, the row hashes summed. Results
with nested columns go through the Python canonicalization instead."""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib


def _canon(v):
    if isinstance(v, dt.datetime) and v.tzinfo is not None:  # sessions run in UTC
        v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
    if v is None or isinstance(v, (bool, str)):
        return v
    if isinstance(v, decimal.Decimal) and v.as_tuple().exponent == 0:
        v = int(v)  # DuckDB's HUGEINT sums arrive through Arrow as DECIMAL(38, 0)
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        return f"{float(v):.10g}"
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    if hasattr(v, "asDict"):
        return _canon(v.asDict(recursive=True))
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    return repr(v)


def digest(columns: list[str], rows) -> tuple[int, str]:
    """(row count, sha1 of the sorted canonical rows), columns by name."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(repr(tuple(_canon(r[i]) for i in order)) for r in rows)
    h = hashlib.sha1()
    h.update(repr([columns[i] for i in order]).encode())
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return len(lines), h.hexdigest()


def _sql_canon(name: str, typ) -> str | None:
    import pyarrow as pa

    c = '"' + name.replace('"', '""') + '"'
    if pa.types.is_integer(typ) or (pa.types.is_decimal(typ) and typ.scale == 0):
        e = f"CAST(CAST({c} AS HUGEINT) AS VARCHAR)"
    elif pa.types.is_floating(typ) or pa.types.is_decimal(typ):
        e = f"printf('%.10g', CAST({c} AS DOUBLE))"
    elif (pa.types.is_string(typ) or pa.types.is_large_string(typ) or pa.types.is_boolean(typ)
          or pa.types.is_timestamp(typ) or pa.types.is_date(typ)):
        e = f"CAST({c} AS VARCHAR)"
    else:
        return None
    return f"coalesce({e}, '\\N')"


def arrow_digest(table) -> tuple[int, str]:
    import duckdb
    import pyarrow as pa

    cols = []
    for i, f in enumerate(table.schema):
        if pa.types.is_timestamp(f.type) and f.type.tz is not None:  # sessions run in UTC
            table = table.set_column(i, f.name, table.column(i).cast(pa.timestamp(f.type.unit)))
    for f in table.schema:
        e = _sql_canon(f.name, f.type)
        if e is None:
            return digest(table.column_names, zip(*(c.to_pylist() for c in table.columns)))
        cols.append((f.name, e))
    cols.sort()
    with duckdb.connect() as con:
        con.register("t", table)
        n, h = con.execute(
            f"SELECT count(*), coalesce(sum(hash(concat_ws(chr(31), {', '.join(e for _, e in cols)}))"
            f"::HUGEINT), 0) FROM t").fetchone()
    return n, hashlib.sha1(repr(([name for name, _ in cols], int(h))).encode()).hexdigest()


def spark_digest(df) -> tuple[int, str]:
    return arrow_digest(df.toArrow())


def duck_digest(con, sql: str) -> tuple[int, str]:
    return arrow_digest(con.execute(sql).arrow())


def compare(got: tuple[int, str], want: tuple[int, str]) -> str | None:
    """None when equal, else a one-line reason."""
    if got[0] != want[0]:
        return f"rows {got[0]} != {want[0]}"
    if got[1] != want[1]:
        return f"row hash {got[1][:12]} != {want[1][:12]}"
    return None
