#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate: run Verify's parquet dumps
against the oracle SQL in DuckDB and compare rows/schema/values.

Usage: python3 tools/localverify.py <sfDir> <outDir>
(run `sbt "runMain graft.Verify <sfDir> <outDir>"` first)

DuckDB runs with a memory limit of half of MemTotal (at least 1 GiB),
not its default 80% of RAM, and spills to a temp directory under /tmp
that is removed on exit. A quarter of MemTotal is too little: at sf0.1
the `gr_hits` oracle then fails with DuckDB's out-of-memory error on a
16 GB host. The limit bounds DuckDB's buffer pool, not the process: a
full sf0.1 run still peaks near 12.9 GB RSS on that host.
"""
import sys, os, json, glob, tempfile
import duckdb
import pandas as pd

def norm(df: pd.DataFrame) -> pd.DataFrame:
    # driver sorts columns by name before hashing values
    df = df[sorted(df.columns)]
    # order-insensitive compare: sort rows by all columns
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df

def memory_limit() -> str:
    with open("/proc/meminfo") as f:
        total_kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return f"{max(1024, total_kb // 2048)}MB"

def main():
    with tempfile.TemporaryDirectory(prefix="localverify_duckdb_", dir="/tmp") as spill:
        run(sys.argv[1], sys.argv[2], spill)

def run(sf_dir, out_dir, spill):
    con = duckdb.connect(config={"memory_limit": memory_limit(),
                                 "temp_directory": spill})
    for p in glob.glob(os.path.join(sf_dir, "*.parquet")):
        name = os.path.basename(p).replace(".parquet", "")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    n_pass = n_fail = 0
    for qname in sorted(oracle):
        sql = oracle[qname]
        res_dir = os.path.join(out_dir, qname)
        if not os.path.isdir(res_dir):
            print(f"FAIL {qname}: no spark output dir"); n_fail += 1; continue
        try:
            spark_df = pd.read_parquet(res_dir)
            duck_df = con.execute(sql).df()
        except Exception as e:
            print(f"FAIL {qname}: {e}"); n_fail += 1; continue
        ok, msg = compare(spark_df, duck_df)
        if ok:
            print(f"PASS {qname} ({len(spark_df)} rows)"); n_pass += 1
        else:
            print(f"FAIL {qname}: {msg}"); n_fail += 1
    print(f"\n{n_pass} pass / {n_fail} fail")
    sys.exit(1 if n_fail else 0)

def compare(s: pd.DataFrame, d: pd.DataFrame):
    if sorted(s.columns) != sorted(d.columns):
        return False, f"columns differ: spark={sorted(s.columns)} duck={sorted(d.columns)}"
    if len(s) != len(d):
        return False, f"row count differs: spark={len(s)} duck={len(d)}"
    s, d = norm(s.copy()), norm(d.copy())
    for c in s.columns:
        sv, dv = s[c], d[c]
        # The driver's hash is dtype-sensitive: int64 vs float64 with equal
        # values is a red row there (r09 smp_shard). Mirror that by failing
        # on numeric-kind disagreement before any value compare. Restricted
        # to numeric kinds because DATE columns legitimately differ in
        # representation (Spark parquet -> pandas object of datetime.date,
        # DuckDB -> datetime64[us]) and those rows are green at the driver.
        numeric = "iufb"
        if (sv.dtype.kind in numeric and dv.dtype.kind in numeric
                and sv.dtype.kind != dv.dtype.kind):
            return False, (f"col {c} dtype-kind mismatch: "
                           f"spark={sv.dtype} duck={dv.dtype}")
        try:
            if sv.dtype.kind == "f" or dv.dtype.kind == "f":
                import numpy as np
                if not np.allclose(sv.astype(float), dv.astype(float), rtol=0, atol=0, equal_nan=True):
                    bad = (sv.astype(float) != dv.astype(float))
                    i = bad[bad].index[0]
                    return False, f"col {c} exact-mismatch at row {i}: {sv[i]!r} vs {dv[i]!r}"
            else:
                sv2 = sv.astype(str); dv2 = dv.astype(str)
                if not (sv2 == dv2).all():
                    i = (sv2 != dv2)
                    i = i[i].index[0]
                    return False, f"col {c} mismatch at row {i}: {sv[i]!r} vs {dv[i]!r}"
        except Exception as e:
            return False, f"col {c} compare error: {e}"
    return True, ""

if __name__ == "__main__":
    main()
