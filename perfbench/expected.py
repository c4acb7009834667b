#!/usr/bin/env python3
"""Derives the benchmark's expected results from DuckDB.

For every op of the sql_dialect and pipelines_sf01 workloads, and for the
sql_dialect statements known to give another answer, it runs the query's
oracle SQL (the DuckDB-dialect statement each registry query carries)
in DuckDB over the benchmark's own generated parquet tables, and records the
row count and the order-insensitive digest that the JVM side computes for
the engine's answer (perfbench/src/perfbench/Digest.scala renders rows the
same way).

Run once from the root of a checkout, after a benchmark run has generated the
data, with the registry's oracle SQL dumped next to it:
    java -cp <classpath> perfbench.Main --oracle .bench_build/oracle_sql.json --work W
    python3 perfbench/expected.py
It rewrites perfbench/expected.json. A disagreement between the engine and
DuckDB is never folded into this file: the file holds DuckDB's answer only.
"""
import datetime
import decimal
import hashlib
import json
import math
import pathlib
import struct
import sys

import duckdb

import build

HERE = pathlib.Path(__file__).resolve().parent
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events",
          "documents", "embeddings"]
CTX = decimal.Context(prec=12, rounding=decimal.ROUND_HALF_EVEN)


def dec(d):
    if d == 0:
        return "0"
    return format(CTX.plus(d).normalize(), "f")


def canon(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "Inf" if v > 0 else "-Inf"
        return dec(decimal.Decimal(v))
    if isinstance(v, decimal.Decimal):
        return dec(v)
    if isinstance(v, str):
        return v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, list):
        if v and all(isinstance(x, tuple) and len(x) == 2 for x in v):  # arrow MAP
            return "{" + ",".join(sorted(canon(k) + ":" + canon(x) for k, x in v)) + "}"
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(canon(x) for x in v.values()) + "}"
    return str(v)


def digest(rows):
    total = 0
    for r in rows:
        h = hashlib.md5("|".join(canon(x) for x in r).encode("utf-8")).digest()
        total = (total + struct.unpack(">q", h[:8])[0]) % (1 << 64)
    return len(rows), "%016x" % total


def answer(con, sql):
    tbl = con.execute(sql).fetch_arrow_table()
    cols = [tbl.column(i).to_pylist() for i in range(tbl.num_columns)]
    return digest(list(zip(*cols)) if cols else [])


def main():
    data = build.build_dir() / "data"
    oracle = json.loads((build.build_dir() / "oracle_sql.json").read_text())
    opsets = json.loads((HERE / "opsets.json").read_text())
    out = {}
    for workload, sf in (("sql_dialect", "sf0.01"), ("pipelines_sf01", "sf0.1")):
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data / sf / t}.parquet/*.parquet'")
        out[workload] = {}
        for name in opsets[workload]["timed"] + opsets[workload].get("known_wrong", []):
            rows, dig = answer(con, oracle[name])
            out[workload][name] = {"rows": rows, "digest": dig}
            print(workload, name, rows, dig, file=sys.stderr)
    (HERE / "expected.json").write_text(json.dumps(out, indent=1, sort_keys=True) + "\n")


if __name__ == "__main__":
    main()
