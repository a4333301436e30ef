#!/usr/bin/env python3
"""DuckDB answers for graft's declared oracle SQL.

Usage: python3 perfbench/oracle.py <oracle_sql.json> <data_dir> [cache_dir]

`oracle_sql.json` maps query name -> the DuckDB SQL that SparkEntry.oracleSql
declares for it (a benchmark run's result.json carries it under
"oracle_sql"). Each SQL runs over the parquet tables of `data_dir`, exposed as
views named after the files. Prints one JSON object: name -> [rows, md5],
where md5 is the canonical content hash that the benchmark harness computes
from Spark's rows (perfbench.Canon): columns sorted by name, cells rendered
by one rule per type, rows sorted.

Answers are cached under `cache_dir` keyed by the SQL text and the content
digest of every input file, so a changed query or input recomputes them.
"""
import datetime
import hashlib
import json
import math
import os
import sys
from decimal import Context, Decimal, ROUND_HALF_EVEN

import duckdb


def canon_big(d):
    return "0" if d == 0 else format(d.normalize(), "f")


def canon_double(v):
    if math.isnan(v):
        return "NaN"
    if math.isinf(v):
        return "Infinity" if v > 0 else "-Infinity"
    if v == 0.0:
        return "0"
    if abs(v) >= 1e15:
        return canon_big(Context(prec=15, rounding=ROUND_HALF_EVEN).plus(Decimal(v)))
    return canon_big(Decimal(v).quantize(Decimal("1e-9"), ROUND_HALF_EVEN))


def canon_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, str):
        return v
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return canon_double(v)
    if isinstance(v, Decimal):
        return canon_big(v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.strftime("%Y-%m-%d %H:%M:%S") + f".{v.microsecond:06d}"
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, list):
        return "[" + ",".join(canon_cell(x) for x in v) + "]"
    if isinstance(v, dict):  # a STRUCT
        return "(" + ",".join(canon_cell(x) for x in v.values()) + ")"
    if isinstance(v, tuple):
        return "(" + ",".join(canon_cell(x) for x in v) + ")"
    return str(v)


def content_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x01".join(canon_cell(r[i]) for i in order) for r in rows)
    text = "\n".join(["\x01".join(cols[i] for i in order)] + lines)
    return [len(lines), hashlib.md5(text.encode("utf-8")).hexdigest()]


def inputs_digest(data_dir):
    h = hashlib.sha256()
    for name in sorted(os.listdir(data_dir)):
        if name.endswith(".parquet"):
            h.update(name.encode())
            with open(os.path.join(data_dir, name), "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def answers(sql_by_name, data_dir, cache_dir=None):
    """name -> [rows, md5] (or ["error", message]) for every query."""
    digest = inputs_digest(data_dir)
    con = None
    out = {}
    for name, sql in sorted(sql_by_name.items()):
        key = hashlib.sha256(f"{sql}\0{digest}".encode()).hexdigest()
        path = os.path.join(cache_dir, key + ".json") if cache_dir else None
        if path and os.path.exists(path):
            with open(path) as f:
                out[name] = json.load(f)
            continue
        if con is None:
            con = duckdb.connect()
            con.execute("SET TimeZone = 'UTC'")
            con.execute("SET threads = 1")
            for t in sorted(os.listdir(data_dir)):
                if t.endswith(".parquet"):
                    con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM "
                                f"read_parquet('{os.path.join(data_dir, t)}')")
        try:
            cur = con.execute(sql)
            cols = [d[0] for d in cur.description]
            out[name] = content_hash(cols, cur.fetchall())
        except Exception as e:  # reported per query, never cached
            out[name] = ["error", f"{type(e).__name__}: {e}"]
            con = None
            continue
        if path:
            os.makedirs(cache_dir, exist_ok=True)
            with open(path, "w") as f:
                json.dump(out[name], f)
    return out


def main():
    with open(sys.argv[1]) as f:
        sql = json.load(f)
    sql = sql.get("oracle_sql", sql)
    cache = sys.argv[3] if len(sys.argv) > 3 else None
    print(json.dumps(answers(sql, sys.argv[2], cache), indent=1, sort_keys=True))


if __name__ == "__main__":
    main()
