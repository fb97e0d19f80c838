#!/usr/bin/env python3
"""Pinned results for the operators workloads, from each query's DuckDB twin.

usage: python3 storebench/pin_operators.py [<sf dir>]

Prints one Scala map entry per query, `"q" -> (rows, digest)`, for
`Operators.Pinned`. The digest mirrors `storebench.Hashing`: columns in
name order, one MD5 per row rendering, summed as signed 64-bit. A twin
that DuckDB cannot finish within its memory and spill limits is reported
as a comment; such a query is pinned from a Spark run instead.
"""
import datetime
import decimal
import hashlib
import json
import os
import subprocess
import sys

import duckdb

import run

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
EPOCH = datetime.datetime(1970, 1, 1)


def render(v):
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        return "NaN" if f != f else "%.5e" % f
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        d = v - EPOCH
        return str((d.days * 86400 + d.seconds) * 1000000 + d.microseconds)
    if isinstance(v, dict):
        return "(" + ",".join(render(x) for x in v.values()) + ")"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(render(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def digest(names, rows):
    order = sorted(range(len(names)), key=lambda i: names[i])
    h = 0
    for r in rows:
        s = "(" + ",".join(render(r[i]) for i in order) + ")"
        h += int.from_bytes(hashlib.md5(s.encode()).digest()[:8], "big", signed=True)
    h = (h + 2**63) % 2**64 - 2**63
    return len(rows), h


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else run.DATA
    out = subprocess.run(["java", "-cp", run.classpath(), "storebench.Operators"],
                         capture_output=True, text=True, check=True).stdout
    twins = json.loads(out.strip().splitlines()[-1])
    con = duckdb.connect()
    tmp = os.path.join(run.BUILD, "duckdb-tmp")
    con.execute(f"SET temp_directory='{tmp}'")
    con.execute("SET max_temp_directory_size='2GB'")
    con.execute("SET memory_limit='3GB'")
    for t in TABLES:
        p = os.path.join(sf, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    for q, sql in twins.items():
        try:
            cur = con.execute(sql)
            names = [d[0] for d in cur.description]
            n, h = digest(names, cur.fetchall())
            print(f'    "{q}" -> ({n}L, {h}L),')
        except duckdb.Error as e:
            print(f"    // {q}: the DuckDB twin failed: {str(e).splitlines()[0]}")


if __name__ == "__main__":
    main()
