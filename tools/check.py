#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: compare Verify's parquet
dumps against the DuckDB oracle SQL on the same testdata tables.

Usage: python3 tools/check.py <sfDir> <verifyOutDir> [query ...]
"""
import atexit
import glob
import json
import os
import shutil
import sys
import tempfile

import duckdb
import pandas as pd

# DuckDB spills large oracle queries to temp files, by default under
# ./.tmp (inside the checkout when run from the repo root); keep them in
# one temp dir that is removed at exit
SPILL = tempfile.mkdtemp(prefix="check-duckdb-")
atexit.register(shutil.rmtree, SPILL, ignore_errors=True)


def connect():
    return duckdb.connect(config={"temp_directory": tempfile.mkdtemp(dir=SPILL)})


def load_spark(outdir, name):
    files = glob.glob(f"{outdir}/{name}/*.parquet")
    if not files:
        return None
    con = connect()
    return con.sql(
        "SELECT * FROM read_parquet([" + ",".join(f"'{f}'" for f in files) + "])"
    ).df()


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def main():
    sfdir, outdir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    with open(f"{outdir}/oracle_sql.json") as f:
        oracles = json.load(f)
    con = connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")
    n_ok = n_bad = 0
    for name in sorted(os.listdir(outdir)):
        if not os.path.isdir(f"{outdir}/{name}"):
            continue
        if only and name not in only:
            continue
        spark_df = load_spark(outdir, name)
        if spark_df is None:
            print(f"MISSING  {name}: no parquet output")
            n_bad += 1
            continue
        if name not in oracles:
            print(f"ROWSONLY {name}: rows={len(spark_df)}")
            continue
        try:
            ora_df = con.sql(oracles[name]).df()
        except Exception as e:
            print(f"ORAFAIL  {name}: {str(e)[:200]}")
            n_bad += 1
            continue
        s, o = canon(spark_df), canon(ora_df)
        if list(s.columns) != list(o.columns):
            print(f"SCHEMA   {name}: spark={list(s.columns)} oracle={list(o.columns)}")
            n_bad += 1
            continue
        # The driver's hash is dtype-sensitive: a value-equal column arriving
        # as int64 from Spark but float64/object (e.g. DuckDB HUGEINT) from the
        # oracle still mismatches. Both frames pass through duckdb->pandas
        # here, so exact dtype equality is the faithful local replica.
        dt_bad = [(c, str(s[c].dtype), str(o[c].dtype))
                  for c in s.columns if s[c].dtype != o[c].dtype]
        if dt_bad:
            print(f"DTYPE    {name}: " + "; ".join(
                f"{c} spark={sd} oracle={od}" for c, sd, od in dt_bad))
            n_bad += 1
            continue
        if len(s) != len(o):
            print(f"ROWCOUNT {name}: spark={len(s)} oracle={len(o)}")
            n_bad += 1
            continue
        try:
            pd.testing.assert_frame_equal(s, o, check_dtype=False, check_exact=True)
            print(f"OK       {name}: rows={len(s)}")
            n_ok += 1
        except AssertionError as e:
            print(f"VALUES   {name}: {str(e).splitlines()[0][:160]}")
            # show first differing rows
            for col in s.columns:
                neq = ~((s[col] == o[col]) | (s[col].isna() & o[col].isna()))
                if neq.any():
                    i = neq.idxmax()
                    print(f"  col={col} row={i} spark={s[col][i]!r} oracle={o[col][i]!r} (n_diff={neq.sum()})")
            n_bad += 1
    print(f"\n{n_ok} ok, {n_bad} bad")
    sys.exit(1 if n_bad else 0)


if __name__ == "__main__":
    main()
