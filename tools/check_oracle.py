"""Local replica of the driver's correctness gate: run every queries()
entry and its oracle_sql() in DuckDB over the same parquet, compare
row count + schema + order-insensitive values.  Usage:

    python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import shutil
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

#: pipeline checkpoints the clips queries reuse while the manifest's
#: config_hash matches, so they outlive changes to stage code.  Each sweep
#: deletes them first; the queries of one sweep still share one run.
CKPT_ROOT = "/tmp/quichash_ckpt"


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif np.issubdtype(df[c].dtype, np.floating):
            df[c] = df[c].round(6)
        elif str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype(str)
        else:
            try:
                df[c] = df[c].astype("int64")
            except (TypeError, ValueError):
                df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns), ignore_index=True)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from quichash_spark.session import get_spark

    shutil.rmtree(CKPT_ROOT, ignore_errors=True)
    spark = get_spark("local[8]", shuffle_partitions=16)
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"create view {t} as select * from '{p}'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: spark error {type(exc).__name__}: {exc}")
            continue
        wall = time.time() - t0
        if name not in oracles:
            print(f"ok   {name}: rows-only, {len(sdf)} rows ({wall:.1f}s)")
            continue
        odf = con.sql(oracles[name]).df()
        a, b = normalize(sdf), normalize(odf)
        if list(a.columns) != list(b.columns):
            failures.append(name)
            print(f"FAIL {name}: columns {list(a.columns)} vs {list(b.columns)}")
            continue
        if len(a) != len(b):
            failures.append(name)
            print(f"FAIL {name}: rows {len(a)} vs {len(b)}")
            continue
        try:
            pd.testing.assert_frame_equal(a, b, check_dtype=False, atol=1e-6, rtol=1e-9)
            print(f"ok   {name}: {len(a)} rows match ({wall:.1f}s)")
        except AssertionError as exc:
            failures.append(name)
            msg = str(exc).splitlines()
            print(f"FAIL {name}: value mismatch: " + " | ".join(msg[:4]))
    print(f"\n{len(failures)} failures: {failures}" if failures else "\nALL MATCH")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
