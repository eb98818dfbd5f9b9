"""Expected results for the query workloads, from the DuckDB oracle.

Each declared query's oracle SQL runs in DuckDB over the same generated
Parquet tables; the result is reduced to a row count and the same
order-insensitive digest the harness computes in Canon.scala (columns in
name order, rows as a multiset, exact floats by IEEE bits, decimals by
value). Pins are cached per input directory.
"""
import datetime as dt
import decimal
import hashlib
import json
import struct

import duckdb

_EPOCH = dt.datetime(1970, 1, 1)
_EPOCH_DATE = dt.date(1970, 1, 1)


def _float(x: float, out: list) -> None:
    if x != x:
        out.append("FNaN")
    elif x == 0.0:
        out.append("F0")
    else:
        out.append("F%d" % struct.unpack(">q", struct.pack(">d", x))[0])


def _encode(v, out: list) -> None:
    if v is None:
        out.append("N")
    elif isinstance(v, bool):
        out.append("B1" if v else "B0")
    elif isinstance(v, int):
        out.append("I%d" % v)
    elif isinstance(v, float):
        _float(v, out)
    elif isinstance(v, decimal.Decimal):
        out.append("M" + ("0" if v == 0 else format(v.normalize(), "f")))
    elif isinstance(v, str):
        out.append("S%d:%s" % (len(v), v))
    elif isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        out.append("T%d" % ((v - _EPOCH) // dt.timedelta(microseconds=1)))
    elif isinstance(v, dt.date):
        out.append("D%d" % (v - _EPOCH_DATE).days)
    elif isinstance(v, (bytes, bytearray)):
        out.append("X" + v.hex() + ";")
    elif isinstance(v, dict):
        out.append("R(")
        for x in v.values():
            _encode(x, out)
            out.append(",")
        out.append(")")
    elif isinstance(v, (list, tuple)):
        out.append("L[")
        for x in v:
            _encode(x, out)
            out.append(",")
        out.append("]")
    else:
        out.append("?%s:%s" % (type(v).__name__, v))


def digest(columns: list, rows: list) -> dict:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    for r in rows:
        parts = []
        for i in order:
            _encode(r[i], parts)
            parts.append("|")
        h = hashlib.sha256("".join(parts).encode()).digest()
        total = (total + int.from_bytes(h[:8], "big")) % (1 << 64)
    head = ",".join(columns[i] for i in order)
    key = f"{head}:{total}:{len(rows)}".encode()
    return {"rows": len(rows), "hash": hashlib.sha256(key).hexdigest()[:16]}


def pins(data_dir, tables: list, sql: dict, cache_file) -> dict:
    """{query: {"rows", "hash"}} for every query in `sql`, cached on disk."""
    cached = json.loads(cache_file.read_text()) if cache_file.exists() else {}
    todo = {k: v for k, v in sql.items() if cached.get(k, {}).get("sql") != v}
    if todo:
        con = duckdb.connect()
        con.execute("SET TimeZone='UTC'")
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
        for name, q in todo.items():
            res = con.execute(q)
            cached[name] = dict(digest([d[0] for d in res.description], res.fetchall()), sql=q)
        cache_file.write_text(json.dumps(cached))
    return {k: cached[k] for k in sql}
