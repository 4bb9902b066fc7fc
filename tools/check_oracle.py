#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB correctness gate.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>

Reads each <outDir>/<name>/ parquet (Spark output) and runs the
corresponding oracle SQL from <outDir>/oracle_sql.json in DuckDB with
the sf tables registered as views. Sorts columns by name, then rows,
and compares cell-by-cell (exact, after canonicalizing NaN/None).
A dumped output with no oracle entry fails: every registered query
declares one, so it can only be a stale directory or a broken dump.

Each PASS/FAIL line carries that oracle's wall time (Spark output read,
DuckDB run and compare); the run ends with the process's peak RSS and
the 10 slowest oracles, so the gate's cost is on record.
"""
import sys, json, glob, math, resource, time
import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> list:
    df = df.reindex(sorted(df.columns), axis=1)
    rows = []
    for row in df.itertuples(index=False):
        vals = []
        for v in row:
            if v is None:
                vals.append(None)
            elif isinstance(v, float) and math.isnan(v):
                vals.append(None)
            elif hasattr(v, "tolist"):  # numpy arrays / lists
                vals.append(tuple(v.tolist()))
            elif isinstance(v, float):
                vals.append(repr(v))
            else:
                vals.append(str(v))
        rows.append(tuple(vals))
    return sorted(rows, key=lambda r: tuple(str(x) for x in r))


def main(sf_dir: str, out_dir: str) -> int:
    con = duckdb.connect()
    # big oracles (graph joins, gram matrix) spill at sf0.1; the
    # default relative .tmp dir may not be creatable from a read-only
    # cwd, so pin spill space under /tmp explicitly
    import os
    os.makedirs("/tmp/duckdb_spill", exist_ok=True)
    con.execute("SET temp_directory='/tmp/duckdb_spill'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    # Schema guard (the round-11 inverted_index class): the driver's
    # checker lexsorts ALL columns in pandas, where list/array/dict
    # cells are unhashable — any such column in ANY query output
    # makes that query unverifiable by
    # the harness that matters, so it fails the gate here first.
    for d in sorted(glob.glob(f"{out_dir}/*/")):
        name = d.rstrip("/").split("/")[-1]
        for f in glob.glob(f"{d}/*.parquet"):
            df = pd.read_parquet(f)
            import numpy as np
            bad = [c for c in df.columns
                   if any(isinstance(v, (list, dict, set, tuple, bytes,
                                         bytearray, np.ndarray))
                          for v in df[c].dropna().head(5))]
            if bad:
                print(f"FAIL {name}: non-scalar output columns {bad}")
                n_fail += 1
            break
    wall = {}
    for name in sorted(oracle):
        t0 = time.monotonic()
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output")
            n_fail += 1
            continue
        spark_df = pd.concat([pd.read_parquet(f) for f in files])
        try:
            duck_df = con.execute(oracle[name]).fetchdf()
        except Exception as e:
            wall[name] = time.monotonic() - t0
            print(f"FAIL {name}: oracle error {e} [{wall[name]:.2f}s]")
            n_fail += 1
            continue
        s, d = canon(spark_df), canon(duck_df)
        wall[name] = time.monotonic() - t0
        took = f"[{wall[name]:.2f}s]"
        if len(s) != len(d):
            print(f"FAIL {name}: rows spark={len(s)} duck={len(d)} {took}")
            n_fail += 1
        elif s != d:
            bad = next(i for i, (a, b) in enumerate(zip(s, d)) if a != b)
            print(f"FAIL {name}: first diff row {bad} {took}:\n  spark={s[bad]}\n  duck ={d[bad]}")
            print(f"  spark cols={sorted(spark_df.columns)} duck cols={sorted(duck_df.columns)}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(s)} rows) {took}")
            n_pass += 1
    # Every registered query declares an oracle, so a dumped output
    # without one is a stale directory or a broken dump.
    for d in sorted(glob.glob(f"{out_dir}/*/")):
        name = d.rstrip("/").split("/")[-1]
        if name not in oracle:
            print(f"FAIL {name}: output has no oracle in oracle_sql.json")
            n_fail += 1
    # ru_maxrss is in KiB on Linux: the peak of this process, DuckDB included.
    peak_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    print(f"\noracle wall {sum(wall.values()):.1f}s over {len(wall)} oracles, "
          f"peak RSS {peak_mb:.0f} MB")
    print("slowest oracles:")
    for name, t in sorted(wall.items(), key=lambda kv: -kv[1])[:10]:
        print(f"  {t:8.2f}s  {name}")
    print(f"\n{n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
