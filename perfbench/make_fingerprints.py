#!/usr/bin/env python3
"""Rebuilds perfbench/fingerprints.json, the answers the benchmark checks.

    python3 perfbench/make_fingerprints.py

Runs every checked op once on the benchmark's input tables, then confirms
each answer against DuckDB running graft's own oracle SQL
(``SparkEntry.oracleSql``), compared in the canonical form of
``tools/oracle_check.py``: columns sorted by name, doubles to six decimals,
dates as full timestamps, rows sorted, md5 over the lot. Only when every
answer agrees is the harness's fingerprint (row count plus an
order-insensitive hash) written. Needs the ``duckdb`` Python package.
"""
import glob
import hashlib
import json
import os
import shutil
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def canon(df):
    df = df[sorted(df.columns)]
    rows = []
    for row in df.itertuples(index=False):
        vals = []
        for v in row:
            if isinstance(v, float):
                vals.append(f"{v:.6f}")
            elif v is None or (not hasattr(v, "__len__") and v != v):
                vals.append("NULL")
            elif hasattr(v, "strftime"):
                try:
                    vals.append(v.strftime("%Y-%m-%d %H:%M:%S"))
                except Exception:
                    vals.append(v.strftime("%Y-%m-%d") + " 00:00:00")
            else:
                vals.append(str(v))
        rows.append("|".join(vals))
    return hashlib.md5("\n".join(sorted(rows)).encode()).hexdigest()


def main():
    classes, data = run.prepare()
    out = os.path.join(run.OUT, "fingerprint")
    shutil.rmtree(out, ignore_errors=True)
    work = out + ".work"
    shutil.rmtree(work, ignore_errors=True)
    code, _ = run.jvm(classes, ["fingerprint", "--data", data, "--work", work,
                                "--out", out],
                      os.path.join(run.OUT, "logs", "fingerprint.log"), 1800, work)
    shutil.rmtree(work, ignore_errors=True)
    if code != 0:
        sys.exit(f"fingerprint run failed ({code}); see .bench_build/logs/fingerprint.log")
    with open(os.path.join(out, "fingerprints.json")) as fh:
        got = json.load(fh)["ops"]
    with open(os.path.join(out, "oracle_sql.json")) as fh:
        oracle = json.load(fh)

    con = duckdb.connect()
    for p in glob.glob(os.path.join(data, "*.parquet")):
        t = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet')")
    bad = 0
    for key in sorted(got):
        graft_df = pd.read_parquet(os.path.join(out, key))
        try:
            ora_df = con.execute(oracle[key]).df()
        except Exception as e:  # noqa: BLE001
            print(f"{key:28s} ORACLE ERROR {e}")
            bad += 1
            continue
        ok = (len(graft_df) == len(ora_df)
              and sorted(graft_df.columns) == sorted(ora_df.columns)
              and canon(graft_df) == canon(ora_df))
        bad += not ok
        print(f"{key:28s} rows={len(graft_df):7d}/{len(ora_df):7d} "
              f"{'agrees' if ok else 'DISAGREES'} fingerprint={got[key]['rows']}:{got[key]['hash']}")
    if bad:
        sys.exit(f"{bad} answers disagree with the DuckDB oracle; fingerprints not written")
    with open(run.FINGERPRINTS, "w") as fh:
        json.dump({"scale": run.SCALE, "data_seed": run.DATA_SEED,
                   "oracle": f"duckdb {duckdb.__version__}", "ops": got},
                  fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"wrote {os.path.relpath(run.FINGERPRINTS)} ({len(got)} answers)")


if __name__ == "__main__":
    main()
