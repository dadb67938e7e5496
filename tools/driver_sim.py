"""Vanilla-session driver simulation (the verify skill's step 2,
promoted to a tool in r8 so every round runs the same probe).

Simulates the external driver exactly: a SparkSession with NO repo
confs, __spark_entry__.py loaded by file path (so sys.path/cwd
assumptions surface), entry() smoke-checked, then the first-N
registry queries run against their DuckDB oracles at sf0.01 with
driver-style canonicalization — columns sorted by name, rows sorted
by all columns via pandas (the exact step that crashed r6 on array
cells), values compared as strings (bit-identity, like the driver's
value hash).

Run it from a NON-REPO cwd:

    cd /tmp && python <repo>/tools/driver_sim.py [N] [sf_dir]

Exit code 0 iff every windowed query passes (rows-only queries are
executed and row-counted, matching the driver's weaker check).
"""
import importlib.util
import sys
import time
from pathlib import Path

import duckdb
import pandas as pd
from pyspark.sql import SparkSession

ENTRY = Path(__file__).resolve().parents[1] / "__spark_entry__.py"


def main() -> int:
    n_window = int(sys.argv[1]) if len(sys.argv) > 1 else 50
    sf = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"

    spark = SparkSession.builder.master("local[8]").getOrCreate()  # NO extra confs
    spec = importlib.util.spec_from_file_location("__spark_entry__", ENTRY)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    rows = mod.entry(spark).collect()
    print(f"entry(): {len(rows)} rows", flush=True)
    assert len(rows) > 0

    qs, osql = mod.queries(), mod.oracle_sql()
    window = list(qs)[:n_window]

    con = duckdb.connect()
    for t in [
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    ]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

    fails = []
    for name in window:
        t0 = time.time()
        try:
            sdf = qs[name](spark, sf).toPandas()
            if name not in osql:
                print(
                    f"rows-only {name}: {len(sdf)} rows ({time.time()-t0:.1f}s)",
                    flush=True,
                )
                continue
            ddf = con.execute(osql[name]).df()
            a = sdf[sorted(sdf.columns)]
            b = ddf[sorted(ddf.columns)]
            assert list(a.columns) == list(b.columns), (
                f"cols {list(a.columns)} vs {list(b.columns)}"
            )
            assert len(a) == len(b), f"rows {len(a)} vs {len(b)}"
            # the driver also compares schemas — a stringified-value
            # match must not mask an int32-vs-int64 / float-vs-decimal
            # divergence (r8 review). Canonicalize like oracle_check:
            # datetime granularities fold to string later, the rest
            # must agree exactly.
            a_dt = [
                "ts" if str(t).startswith("datetime") else str(t)
                for t in a.dtypes
            ]
            b_dt = [
                "ts" if str(t).startswith("datetime") else str(t)
                for t in b.dtypes
            ]
            assert a_dt == b_dt, (
                f"dtypes spark={dict(zip(a.columns, a_dt))} "
                f"duck={dict(zip(b.columns, b_dt))}"
            )
            # pandas sort over all columns — exactly what crashed the
            # r6 driver on array cells; arrays must fail here too
            a = a.sort_values(list(a.columns), kind="mergesort").reset_index(drop=True)
            b = b.sort_values(list(b.columns), kind="mergesort").reset_index(drop=True)
            for c in a.columns:
                av, bv = a[c], b[c]
                if str(av.dtype).startswith("datetime") or str(bv.dtype).startswith(
                    "datetime"
                ):
                    av, bv = av.astype(str), bv.astype(str)
                try:
                    pd.testing.assert_series_equal(
                        av.astype(str), bv.astype(str), check_names=False
                    )
                except AssertionError as e:
                    raise AssertionError(f"col {c}: {e}") from None
            print(f"PASS {name}: {len(a)} rows ({time.time()-t0:.1f}s)", flush=True)
        except Exception as e:  # noqa: BLE001 — report and continue, like the driver
            fails.append(name)
            print(f"FAIL {name}: {type(e).__name__}: {str(e)[:300]}", flush=True)

    print(f"\n{len(window)-len(fails)}/{len(window)} ok; fails: {fails}", flush=True)
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
