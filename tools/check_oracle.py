#!/usr/bin/env python3
"""Local mirror of the driver's t2 gate: run each oracle SQL in DuckDB over
the fixture tables and compare against the parquet Verify wrote.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir>

Compare semantics (mirrors driver contract as documented in the prompt):
columns sorted by name, values hashed after canonicalization. Here we
compare cell-by-cell for better diagnostics. Dtype drift is a HARD
failure: the driver's hash is dtype-sensitive (954 vs 954.0 mismatch) —
r07 shipped four green-locally/red-on-driver queries because DuckDB
sum(BIGINT) returns HUGEINT (pandas float64) while Spark emits int64 and
this mirror called that cosmetic. Never downgrade it again.
"""
import json
import math
import sys

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize datetimes to ns, ints to int64, decimals/objects to native
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[c] = s.astype("datetime64[ns]")
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("int64")
        elif pd.api.types.is_bool_dtype(s):
            df[c] = s.astype("bool")
    return df


def cmp_frames(name, a: pd.DataFrame, b: pd.DataFrame):
    issues = []
    if sorted(a.columns) != sorted(b.columns):
        return [f"columns differ: spark={sorted(a.columns)} duck={sorted(b.columns)}"]
    if len(a) != len(b):
        issues.append(f"row count differs: spark={len(a)} duck={len(b)}")
        return issues
    raw_a = {c: str(a[c].dtype) for c in a.columns}
    raw_b = {c: str(b[c].dtype) for c in b.columns}
    a, b = canon(a), canon(b)
    for c in a.columns:
        if raw_a[c] != raw_b[c]:
            issues.append(f"dtype drift col={c}: spark={raw_a[c]} duck={raw_b[c]}")
    for c in a.columns:
        av, bv = a[c], b[c]
        try:
            if pd.api.types.is_float_dtype(av) or pd.api.types.is_float_dtype(bv):
                av_f = av.astype(float)
                bv_f = bv.astype(float)
                neq = ~((av_f == bv_f) | (av_f.isna() & bv_f.isna()))
                if neq.any():
                    i = neq.idxmax()
                    issues.append(f"value mismatch col={c} row={i}: spark={av_f[i]!r} duck={bv_f[i]!r} (n={int(neq.sum())})")
            else:
                neq = ~((av.astype(str) == bv.astype(str)) | (av.isna() & bv.isna()))
                if neq.any():
                    i = neq.idxmax()
                    issues.append(f"value mismatch col={c} row={i}: spark={av[i]!r} duck={bv[i]!r} (n={int(neq.sum())})")
        except Exception as e:
            issues.append(f"compare error col={c}: {e}")
    return issues


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_ok = n_bad = 0
    for name in sorted(oracle):
        sql = oracle[name]
        try:
            spark_df = pd.read_parquet(f"{out_dir}/{name}")
        except Exception as e:
            print(f"FAIL {name}: cannot read spark output: {e}")
            n_bad += 1
            continue
        try:
            duck_df = con.execute(sql).df()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            n_bad += 1
            continue
        issues = cmp_frames(name, spark_df, duck_df)
        if issues:
            n_bad += 1
            print(f"FAIL {name}")
            for i in issues[:6]:
                print(f"   {i}")
        else:
            n_ok += 1
            print(f"ok   {name} rows={len(spark_df)}")
    # rows-only entries (no oracle): an empty or unreadable one fails
    import os
    for name in sorted(os.listdir(out_dir)):
        if name == "oracle_sql.json" or name in oracle:
            continue
        try:
            n = len(pd.read_parquet(f"{out_dir}/{name}"))
            print(f"rows {name} rows={n}" + ("  ** EMPTY **" if n == 0 else ""))
        except Exception as e:
            n = 0
            print(f"rows {name} unreadable: {e}")
        if n == 0:
            n_bad += 1
    print(f"\n{n_ok} ok, {n_bad} fail")
    return 1 if n_bad else 0


if __name__ == "__main__":
    sys.exit(main())
