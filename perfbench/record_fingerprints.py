#!/usr/bin/env python3
"""Record the sql_batch fingerprints, keeping only results that match their
DuckDB oracle.

    python3 perfbench/record_fingerprints.py [--write] [query ...]

Builds the benchmark if needed, then runs `perfbench.Record`: it generates
the sql_batch tables at the benchmark's scale (0.01) and runs each query
(default: every `q*` query) once, under perfbench/.work/record/. Each result
is compared row for row with the query's oracle (`SparkEntry.oracleSql`) run
by DuckDB over the same tables: bit-exact values, any row order. With
`--write`, the fingerprints of the queries that pass, have an oracle and
return rows are written to perfbench/fingerprints.json.
"""
import glob
import json
import math
import os
import shutil
import subprocess
import sys

import duckdb

import run

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(v):
    if isinstance(v, float):
        return ("float", "nan") if math.isnan(v) else ("float", repr(v))
    if isinstance(v, (list, tuple)):
        return ("list", tuple(norm(x) for x in v))
    if isinstance(v, dict):
        return ("map", tuple(sorted((k, norm(x)) for k, x in v.items())))
    return (type(v).__name__, repr(v))


def compare(s_rows, s_cols, d_rows, d_cols):
    if sorted(s_cols) != sorted(d_cols):
        return f"columns {sorted(s_cols)} vs {sorted(d_cols)}"
    if len(s_rows) != len(d_rows):
        return f"rows {len(s_rows)} vs {len(d_rows)}"
    cols = sorted(s_cols)
    s = sorted(tuple(norm(r[s_cols.index(c)]) for c in cols) for r in s_rows)
    d = sorted(tuple(norm(r[d_cols.index(c)]) for c in cols) for r in d_rows)
    for i, (a, b) in enumerate(zip(s, d)):
        if a != b:
            return f"row {i}: {a} vs {b}"
    return None


def main(out, write):
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{out}/data/{t}.parquet/*.parquet')")
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracles = json.load(f)
    with open(os.path.join(out, "candidates.json")) as f:
        candidates = json.load(f)
    keep = {}
    for name in sorted(candidates):
        files = glob.glob(os.path.join(out, "results", name, "*.parquet"))
        rel = con.sql(f"SELECT * FROM read_parquet({files!r})")
        s_rows, s_cols = rel.fetchall(), rel.columns
        if name not in oracles:
            print(f"{name}: no oracle ({len(s_rows)} rows)")
            continue
        try:
            orel = con.sql(oracles[name])
            err = compare(s_rows, s_cols, orel.fetchall(), orel.columns)
        except Exception as e:  # an oracle DuckDB cannot run is a failure too
            err = f"oracle error {e}"
        if err is None and not s_rows:
            err = "empty result"
        print(f"{name}: {'pass' if err is None else 'FAIL ' + err}"
              f" ({len(s_rows)} rows)")
        if err is None:
            keep[name] = candidates[name]
    print(f"{len(keep)} of {len(candidates)} pass")
    if write:
        path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            "fingerprints.json")
        with open(path, "w") as f:
            f.write("{\n" + ",\n".join(
                f'  "{n}": {{"rows": {keep[n]["rows"]}, "hash": "{keep[n]["hash"]}"}}'
                for n in sorted(keep)) + "\n}\n")
        print(f"wrote {path}")


def record(out, queries):
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cmd = ["java", *run.ADD_OPENS, "-Xmx3g",
           f"-Dlog4j2.configurationFile={os.path.join(run.HERE, 'log4j2.properties')}",
           "-cp", run.build(), "perfbench.Record", out, "0.01", *queries]
    subprocess.run(cmd, cwd=out, check=True)


if __name__ == "__main__":
    args = sys.argv[1:]
    out = os.path.join(run.WORK, "record")
    record(out, [a for a in args if not a.startswith("--")])
    main(out, "--write" in args)
