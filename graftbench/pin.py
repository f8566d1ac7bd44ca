#!/usr/bin/env python3
"""Pin the analytics_mix output digests, cross-checked against DuckDB.

Usage (from the root of a checkout):
  python3 graftbench/pin.py [<scratch dir>]

Runs every query of the mix once (graftbench/run.py --pin), which
writes each result as parquet with its digest and, where the query has
one, its oracle SQL from SparkEntry.oracleSql. Each result with an
oracle is compared with DuckDB running that SQL on the same test data,
normalized the way tools/check.py does it (columns by name, rows
sorted, values compared as strings). Only when every comparison holds
are the digests written to graftbench/digests.json.
"""
import json
import os
import subprocess
import sys
import tempfile
from pathlib import Path

import duckdb

HERE = Path(__file__).resolve().parent
sys.dont_write_bytecode = True
sys.path.insert(0, str(HERE))
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def norm(df):
    df = df[sorted(df.columns)]
    key = df.astype(str).apply(lambda r: "\x00".join(r), axis=1)
    return df.iloc[key.sort_values(kind="mergesort").index].reset_index(drop=True)


def oracle_matches(sf_dir, result_dir, sql):
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    got = norm(con.sql(f"SELECT * FROM '{result_dir}/*.parquet'").df())
    want = norm(con.sql(sql).df())
    if list(got.columns) != list(want.columns) or len(got) != len(want):
        return False, f"shape {list(got.columns)} x {len(got)} vs {list(want.columns)} x {len(want)}"
    bad = int((got.astype(str) != want.astype(str)).any(axis=1).sum())
    return bad == 0, f"{len(got)} rows, {bad} differ"


def main():
    scratch = Path(sys.argv[1]) if len(sys.argv) > 1 else Path(tempfile.mkdtemp(prefix="graftbench-pin-"))
    out = scratch / "pin"
    subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", "analytics_mix",
                    "--seed", "0", "--seconds", "1", "--trace", "0", "--pin", str(out)],
                   check=True)
    pins = json.loads((out / "pin.json").read_text())
    testdata = run.testdata_root()
    ok = True
    for key, p in sorted(pins.items()):
        if "oracle_sql" not in p:
            print(f"[rows-only] {key}: no oracle SQL; digest {p['digest']}")
            continue
        good, detail = oracle_matches(f"{testdata}/{p['sf']}", out / key, p["oracle_sql"])
        print(f"[{' OK ' if good else 'FAIL'}] {key}: {detail}")
        ok &= good
    if not ok:
        sys.exit("digests not pinned: a result disagrees with its DuckDB oracle")
    digests = {k: p["digest"] for k, p in sorted(pins.items())}
    (HERE / "digests.json").write_text(json.dumps(digests, indent=2) + "\n")
    print(f"pinned {len(digests)} digests")


if __name__ == "__main__":
    main()
