#!/usr/bin/env python3
"""Driver-faithful second-stage gate: emulate the round harness's pandas
compare (sort columns by name, sort rows, hash_pandas_object) on every
Verify dump, alongside scripts/check.py's value-exact compare.

check.py proves VALUES match; this proves they match THE WAY THE DRIVER
HASHES THEM — the layer the r14 array-column failures slipped through.
Datetime columns normalize to ns resolution first: Spark parquet reads
as datetime64[ns], DuckDB .df() as datetime64[us]; identical values
hash differently without it (verified: the real driver tolerates this,
r14 hash-greens carried the mix).

Usage: scripts/check_pandas.py [sfDir] [verifyOutDir]
"""
import json
import os
import sys

import duckdb
import pandas as pd
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon_hash(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if "datetime" in str(df[c].dtype):
            df[c] = df[c].astype("datetime64[ns]")
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return pd.util.hash_pandas_object(df, index=False).sum()


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
    con = duckdb.connect()
    for t in TABLES:
        # testdata ships single-file parquet; synthesized corpora
        # (`graft.Corpus decade`, `dup10`, ...) are Spark directory layout — glob those
        p = f"{sf}/{t}.parquet"
        src = f"'{p}/*.parquet'" if os.path.isdir(p) else f"'{p}'"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet({src})")
    oracle = json.load(open(f"{out}/oracle_sql.json"))
    n_pass, fails = 0, []
    for name in sorted(oracle):
        try:
            exp = con.execute(oracle[name]).df()
            got = pq.read_table(f"{out}/{name}").to_pandas()
            if sorted(exp.columns) != sorted(got.columns):
                fails.append((name, f"cols {sorted(got.columns)} != {sorted(exp.columns)}"))
            elif len(exp) != len(got):
                fails.append((name, f"rows {len(got)} != {len(exp)}"))
            elif canon_hash(exp) != canon_hash(got):
                fails.append((name, "pandas hash mismatch"))
            else:
                n_pass += 1
        except Exception as ex:
            fails.append((name, f"error: {ex}"))
    for n, m in fails:
        print(f"FAIL {n}: {m}")
    print(f"{n_pass}/{len(oracle)} pandas-hash pass")
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
