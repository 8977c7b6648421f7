#!/usr/bin/env python3
"""Recompute perfbench/expected.json: the oracle's answer for every query
the benchmark checks, as the canonical hash `Canon.scala` computes over a
collected Spark result.

    python3 perfbench/make_expected.py

Run from the repository root after one benchmark run has built the harness
and generated the tables. It runs each query's oracle SQL
(`SparkEntry.oracleSql`) in DuckDB over the generated parquet, so it is
needed only when the tables, the query set or the oracle SQL change.
"""
import datetime
import hashlib
import json
import math
import os
import struct
import subprocess
import sys

import duckdb

import run

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
INT_TYPES = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT", "UTINYINT",
             "USMALLINT", "UINTEGER"}
EPOCH = datetime.datetime(1970, 1, 1)


def type_class(t):
    t = str(t)
    return "INT" if t in INT_TYPES else t


def token(v):
    """Canon.token for the oracle's Python values."""
    if v is None:
        return "N"
    if isinstance(v, bool):
        return f"b:{'true' if v else 'false'}"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, float):
        if math.isnan(v):
            return "d:NaN"
        return "d:" + format(struct.unpack(">Q", struct.pack(">d", v))[0], "x")
    if isinstance(v, str):
        return "s:" + (v.replace("\\", "\\\\").replace("|", "\\|")
                       .replace("\n", "\\n"))
    if isinstance(v, datetime.datetime) and v.tzinfo is None:
        return f"t:{(v - EPOCH) // datetime.timedelta(microseconds=1)}"
    raise TypeError(f"no canonical form for {type(v).__name__}")


def canon_hash(columns, types, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    header = "|".join(f"{columns[i]}:{type_class(types[i])}" for i in order)
    lines = sorted("|".join(token(r[i]) for i in order) for r in rows)
    h = hashlib.sha256(header.encode())
    for line in lines:
        h.update(b"\n" + line.encode())
    return h.hexdigest()


def main():
    cp = run.build()
    datadir = run.data(cp)
    sql_file = os.path.join(run.BUILD, "oracle_sql.json")
    run.java(cp, ["oracle", sql_file], os.path.join(run.BUILD, "oracle.log"),
             300)
    with open(sql_file) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{datadir}/{t}.parquet'")
    expected = {}
    for name in sorted(oracle):
        rel = con.sql(oracle[name])
        expected[name] = canon_hash(rel.columns, rel.types, rel.fetchall())
        print(f"{name} {expected[name]}", file=sys.stderr)
    with open(os.path.join(run.HERE, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
