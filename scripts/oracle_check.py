"""Standalone mirror of the driver's correctness gate.

Usage: python scripts/oracle_check.py [sf_dir] [query ...]

Runs each ``queries()`` entry against its ``oracle_sql()`` DuckDB twin
at the given scale factor (default /root/testdata/sf0.01) and prints a
per-query PASS/FAIL/no_oracle line plus a JSON summary — the same
contract (rows, columns, order-insensitive values) as
CORRECTNESS_r{N}.json, so queries green here are green under the
driver.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as entrymod  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
        if str(df[c].dtype) in ("float64", "float32"):
            df[c] = df[c].astype("float64").round(6)
        if str(df[c].dtype).startswith(("int", "uint", "Int")):
            df[c] = df[c].astype("int64")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    print(f"# entry module: {entrymod.__file__}")

    from apache_beam_spark.engine import get_spark
    spark = get_spark("oracle-check")
    duck = duckdb.connect()
    for t in TABLES:
        duck.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                     f"read_parquet('{sf_dir}/{t}.parquet')")

    queries, oracles = entrymod.queries(), entrymod.oracle_sql()
    names = [n for n in sorted(queries) if not only or n in only]
    results, n_pass, n_fail = {}, 0, 0
    for name in names:
        t0 = time.time()
        try:
            sdf = queries[name](spark, sf_dir).toPandas()
            if name not in oracles:
                results[name] = {"status": "no_oracle", "rows": len(sdf)}
                print(f"  {name}: no_oracle rows={len(sdf)} "
                      f"({time.time()-t0:.1f}s)")
                continue
            odf = duck.execute(oracles[name]).fetchdf()
            ok_rows = len(sdf) == len(odf)
            s, o = canon(sdf), canon(odf)
            ok_cols = list(s.columns) == list(o.columns)
            ok_vals = False
            if ok_rows and ok_cols:
                try:
                    pd.testing.assert_frame_equal(
                        s, o, check_dtype=False, check_exact=False,
                        rtol=0, atol=1e-9)
                    ok_vals = True
                except AssertionError as e:
                    results[name] = {"status": "FAIL", "why": "values",
                                     "detail": str(e)[:500]}
            if ok_rows and ok_cols and ok_vals:
                results[name] = {"status": "PASS", "rows": len(sdf)}
                n_pass += 1
                print(f"  {name}: PASS rows={len(sdf)} ({time.time()-t0:.1f}s)")
            else:
                n_fail += 1
                if not ok_rows:
                    results[name] = {"status": "FAIL", "why": "rows",
                                     "spark": len(sdf), "oracle": len(odf)}
                elif not ok_cols:
                    results[name] = {"status": "FAIL", "why": "columns",
                                     "spark": list(s.columns),
                                     "oracle": list(o.columns)}
                print(f"  {name}: FAIL {json.dumps(results[name])[:300]}")
        except Exception:
            n_fail += 1
            results[name] = {"status": "ERR",
                             "detail": traceback.format_exc()[-800:]}
            print(f"  {name}: ERR\n{traceback.format_exc()[-800:]}")
    print(json.dumps({"pass": n_pass, "fail": n_fail,
                      "total": len(names)}))
    spark.stop()


if __name__ == "__main__":
    main()
