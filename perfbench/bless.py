#!/usr/bin/env python3
"""Record the registry fingerprints the benchmark checks against.

  python3 perfbench/bless.py [--write]

Runs the harness in dump mode: every registry result the benchmark
checks (cold and artifact-attached) is written as parquet together with
its row-count + hash fingerprint and its DuckDB oracle SQL. Each result
is then compared with the oracle's answer over the same input tables,
both canonicalized (columns and rows sorted, floats to 6 significant
digits). Only when every result matches its oracle are the fingerprints
written to perfbench/fingerprints.json (with --write). A result without
an oracle SQL fails the comparison.
"""
import json
import math
import os
import subprocess
import sys

import duckdb
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data", "sf0.01")


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)

    def norm(v):
        if hasattr(v, "tolist"):
            v = v.tolist()
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else f"{v:.6g}"
        if isinstance(v, (list, tuple)):
            return tuple(norm(x) for x in v)
        if isinstance(v, dict):
            return tuple(sorted((k, norm(x)) for k, x in v.items()))
        return v

    out = df.map(norm)
    return out.sort_values(by=list(out.columns), key=lambda s: s.map(repr)).reset_index(drop=True)


def main():
    write = "--write" in sys.argv[1:]
    root = os.path.dirname(HERE)
    dump = os.path.join(root, ".bench_build", "dump")
    r = subprocess.call([sys.executable, os.path.join(HERE, "run.py"), "--dump", dump], cwd=root)
    if r != 0:
        sys.exit(f"dump failed with exit {r}")
    with open(os.path.join(dump, "oracle_sql.json")) as fh:
        oracles = json.load(fh)
    with open(os.path.join(dump, "fingerprints.json")) as fh:
        fps = json.load(fh)
    con = duckdb.connect()
    for f in sorted(os.listdir(DATA)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{os.path.join(DATA, f)}')")
    bad = 0
    for key in fps:
        sql = oracles.get(key)
        if sql is None:
            print(f"NO ORACLE {key}")
            bad += 1
            continue
        got = canon(pd.read_parquet(os.path.join(dump, key)))
        want = canon(con.execute(sql).df())
        ok = list(got.columns) == list(want.columns) and got.equals(want)
        print(f"{'OK  ' if ok else 'DIFF'} {key}: spark {len(got)} rows, oracle {len(want)} rows")
        bad += 0 if ok else 1
    if bad:
        sys.exit(f"{bad} result(s) do not match their oracle; fingerprints not recorded")
    if write:
        with open(os.path.join(HERE, "fingerprints.json"), "w") as fh:
            json.dump(fps, fh, indent=2, sort_keys=True)
            fh.write("\n")
        print("recorded perfbench/fingerprints.json")


if __name__ == "__main__":
    main()
