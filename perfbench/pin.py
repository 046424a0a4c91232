#!/usr/bin/env python3
"""Pin the spark_pipeline output digests in perfbench/spec.json.

    python3 perfbench/pin.py [--write] [--reuse]

Runs every listed query and stream once, writes each query's result as
parquet, and compares it with the query's DuckDB oracle SQL over the same
tables (columns sorted by name, rows sorted, floats compared to 1e-6
relative). Streams are compared inside the JVM with the batch form of the
same operator. With --write, and only if every comparison passes, the
digests are stored under "pins" in spec.json, which run.py then checks on
every run. Writes only under .bench_build/perfbench/.
"""
import json
import time
import os
import shutil
import subprocess
import sys

import run

PIN_DIR = os.path.join(os.path.dirname(run.WORK), "pin")
ORACLE_TIMEOUT_S = 60


def canon(df):
    df = df[sorted(df.columns)]
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def oracle_check(data, result, sql):
    """Compare one Spark result directory with the oracle SQL over `data`."""
    import duckdb
    import numpy as np
    con = duckdb.connect()
    con.execute("SET threads=2")
    for t in os.listdir(data):
        if t.endswith(".parquet"):
            con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM '{data}/{t}'")
    ddf = canon(con.execute(sql).df())
    sdf = canon(con.execute(f"SELECT * FROM '{result}/*.parquet'").df())
    if list(ddf.columns) != list(sdf.columns):
        return f"columns duck={list(ddf.columns)} spark={list(sdf.columns)}"
    if len(ddf) != len(sdf):
        return f"rows duck={len(ddf)} spark={len(sdf)}"
    for c in ddf.columns:
        x, y = ddf[c], sdf[c]
        if x.dtype.kind == "f" or y.dtype.kind == "f":
            xf, yf = x.astype("float64").to_numpy(), y.astype("float64").to_numpy()
            ok = (np.isnan(xf) & np.isnan(yf)) | (
                np.abs(xf - yf) <= 1e-6 * np.maximum(1.0, np.maximum(np.abs(xf), np.abs(yf))))
        else:
            ok = (x.astype(str) == y.astype(str)).to_numpy()
        if not ok.all():
            i = int(np.argmin(ok))
            return f"row {i} column {c}: duck={x.iloc[i]!r} spark={y.iloc[i]!r}"
    return None


def check_in_child(data, result, sql, timeout):
    """oracle_check in a child process; None on timeout."""
    cmd = [sys.executable, __file__, "--check", data, result, sql]
    try:
        r = subprocess.run(cmd, capture_output=True, text=True, timeout=timeout)
    except subprocess.TimeoutExpired:
        return None
    return r.stdout.strip() or f"check crashed: {r.stderr.strip()[-300:]}"


def main():
    if sys.argv[1:2] == ["--check"]:
        print(oracle_check(*sys.argv[2:5]) or "PASS")
        return
    write = "--write" in sys.argv[1:]
    with open(run.SPEC) as fh:
        spec = json.load(fh)
    w = spec["workloads"]["spark_pipeline"]
    if "--reuse" not in sys.argv[1:]:  # --reuse: compare the last pin run's output again
        run.build.build()
        shutil.rmtree(run.WORK, ignore_errors=True)
        os.makedirs(os.path.join(run.WORK, "tmp"))
        args = ["--workload", "spark_pipeline", "--spec", run.SPEC, "--work", run.WORK,
                "--pin", os.path.abspath(PIN_DIR)]
        r = subprocess.run(run.jvm("perfbench.Main", args, w["jvm_flags"], run.WORK), cwd=run.ROOT)
        if r.returncode != 0:
            raise SystemExit(f"pin run failed ({r.returncode})")
    with open(os.path.join(PIN_DIR, "pins.json")) as fh:
        pins = json.load(fh)
    bad, checked_at = 0, {}
    for name, p in pins.items():
        if p["oracle"] is None:
            print(f"stream {name}: rows {p['rows']} (checked against its batch form)")
            checked_at[name] = "batch form of the same operator, " + os.path.basename(w["data_dir"])
            continue
        # the oracle runs at the benchmark's scale when DuckDB finishes it in
        # ORACLE_TIMEOUT_S, else at the fallback scale, where the same query
        # and SQL are compared
        t = time.perf_counter()
        where = w["data_dir"]
        err = check_in_child(where, os.path.join(PIN_DIR, name), p["oracle"], ORACLE_TIMEOUT_S)
        if err is None:
            where = w["oracle_fallback_dir"]
            err = check_in_child(where, os.path.join(PIN_DIR, "small", name), p["oracle"],
                                 4 * ORACLE_TIMEOUT_S) or "oracle timed out at both scales"
        checked_at[name] = "DuckDB oracle at " + os.path.basename(where)
        print(f"{err.split()[0] if err == 'PASS' else 'FAIL'} {name}: rows {p['rows']}, oracle at "
              f"{where} in {time.perf_counter() - t:.1f} s" + ("" if err == "PASS" else f" — {err}"),
              flush=True)
        bad += err != "PASS"
    if bad:
        raise SystemExit(f"{bad} queries disagree with their DuckDB oracle; nothing pinned")
    if write:
        spec["pins"] = {k: {f: v[f] for f in ("rows", "hash", "fsum", "fabs")} for k, v in pins.items()}
        spec["pins_oracle_checked_at"] = checked_at
        with open(run.SPEC, "w") as fh:
            json.dump(spec, fh, indent=2)
            fh.write("\n")
        print(f"pinned {len(pins)} digests in {run.SPEC}")


if __name__ == "__main__":
    main()
