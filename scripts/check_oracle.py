"""Local replica of the driver's DuckDB-oracle comparison.

Runs every __spark_entry__.queries() entry in Spark and the matching
oracle_sql() in DuckDB over the same sf dir, then compares row count, sorted
column-name sets, and fully-normalized value frames (stronger than the
driver's order-insensitive value hash — if this passes, the hash passes).

Usage: python scripts/check_oracle.py [sf_dir] [key ...]
"""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            try:
                s = s.dt.tz_localize(None)
            except TypeError:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            df[c] = s.dt.strftime("%Y-%m-%d %H:%M:%S.%f")
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.round(6)
        elif s.dtype == object:
            df[c] = s.astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def main():
    args = [a for a in sys.argv[1:]]
    sf_dir = args[0] if args and "/" in args[0] else "/root/testdata/sf0.01"
    keys = [a for a in args if "/" not in a]

    import __spark_entry__ as entry_mod
    from crawlspark.session import get_spark

    spark = get_spark(parallelism=8, shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    keys = keys or list(qs)
    n_pass = n_fail = n_rowsonly = 0
    for k in keys:
        sdf = qs[k](spark, sf_dir)
        spdf = sdf.toPandas()
        if k not in oracles:
            print(f"{k:26s} ROWS-ONLY rows={len(spdf)}")
            n_rowsonly += 1
            continue
        opdf = con.execute(oracles[k]).df()
        ok = True
        msgs = []
        if len(spdf) != len(opdf):
            ok = False
            msgs.append(f"rowcount spark={len(spdf)} duck={len(opdf)}")
        if sorted(spdf.columns) != sorted(opdf.columns):
            ok = False
            msgs.append(f"cols spark={sorted(spdf.columns)} duck={sorted(opdf.columns)}")
        if ok:
            a, b = normalize(spdf), normalize(opdf)
            try:
                same = a.astype(str).equals(b.astype(str))
            except Exception as e:
                same, msgs = False, [f"compare error: {e}"]
            if not same:
                ok = False
                neq = (a.astype(str) != b.astype(str)).any(axis=1)
                idx = list(np.where(neq)[0][:3])
                msgs.append(f"values differ at rows {idx}")
                for i in idx:
                    msgs.append(f"  spark: {a.iloc[i].to_dict()}")
                    msgs.append(f"  duck : {b.iloc[i].to_dict()}")
        status = "OK" if ok else "FAIL"
        n_pass += ok
        n_fail += not ok
        print(f"{k:26s} {status} rows={len(spdf)}" + ("  " + "; ".join(msgs) if msgs else ""))
    print(f"\n{n_pass} ok, {n_fail} fail, {n_rowsonly} rows-only")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
