"""Mimic the driver's correctness gate: run every queries() entry on
Spark and its oracle_sql() on DuckDB, compare row count, schema width,
and an order-insensitive value hash (columns sorted by name, floats
rounded to 6dp, rows sorted). Every line prints the first 12 hex
digits of the Spark-side hash (and of the oracle's, where there is
one), so two trees' results compare by diffing this script's output.

Usage: python scripts/check_contract.py [sf_dir] [query_filter]
"""

from __future__ import annotations

import hashlib
import re
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import duckdb
import pandas as pd

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def canon(df: pd.DataFrame) -> tuple[int, str]:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype.kind == "f":
            df[c] = df[c].round(6)
        elif str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("int64")
    rows = sorted(
        tuple(str(v) for v in row) for row in df.itertuples(index=False)
    )
    h = hashlib.sha1("\n".join("|".join(r) for r in rows).encode()).hexdigest()
    return len(df), h


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    flt = sys.argv[2] if len(sys.argv) > 2 else ""

    from pdfplumber_rs_spark.session import local_session

    spark = local_session("pdfplumber_rs_spark-contract",
                          **{"spark.sql.shuffle.partitions": "16"})

    import __spark_entry__ as e

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"create view {t} as select * from read_parquet('{sf}/{t}.parquet')"
        )

    qs, oracles = e.queries(), e.oracle_sql()
    n_pass = n_fail = 0
    for name, fn in qs.items():
        if flt:
            try:
                hit = re.search(flt, name)
            except re.error:  # not a regex — plain substring fallback
                hit = flt in name
            if not hit:
                continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf).toPandas()
        except Exception as ex:  # noqa: BLE001
            print(f"{name}: SPARK CRASH {type(ex).__name__}: {str(ex)[:200]}")
            n_fail += 1
            continue
        spark_s = time.time() - t0
        sn, sh = canon(sdf)
        if name not in oracles:
            print(f"{name}: rows-only ({sn} rows, spark_hash={sh[:12]}, "
                  f"{spark_s:.1f}s)")
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as ex:  # noqa: BLE001
            print(f"{name}: ORACLE CRASH {type(ex).__name__}: {str(ex)[:200]}")
            n_fail += 1
            continue
        on, oh = canon(odf)
        ok = sn == on and sh == oh
        status = "OK" if ok else "MISMATCH"
        if ok:
            n_pass += 1
        else:
            n_fail += 1
        print(f"{name}: {status} spark={sn} oracle={on} "
              f"spark_hash={sh[:12]} oracle_hash={oh[:12]} ({spark_s:.1f}s)",
              flush=True)
        if not ok and len(sdf) and len(odf):
            s_cols, o_cols = sorted(sdf.columns), sorted(odf.columns)
            if s_cols != o_cols:
                print(f"  cols: spark={s_cols} oracle={o_cols}")
            else:
                merged = sdf[s_cols].merge(
                    odf[o_cols], how="outer", indicator=True,
                    on=list(s_cols)) if sn < 100000 else None
                if merged is not None:
                    diff = merged[merged["_merge"] != "both"]
                    print(diff.head(6).to_string()[:1200])
    print(f"---- {n_pass} pass, {n_fail} fail ----")


if __name__ == "__main__":
    main()
