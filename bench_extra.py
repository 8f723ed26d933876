"""Round-6 measurement harness (bench.py is frozen for the driver).

Usage:
  python bench_extra.py [--sf DIR] [--queries a,b,c] [--repeat N]
      [--explain-dir plans/r06 --explain-suffix before] [--no-warmup]

Times each query in isolation with the noop sink (guide §1.4), labels
jobs (§1.5), optionally dumps .explain("formatted") per query. Uses the
same session config as bench.py so numbers are comparable.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from bench import HEADLINE  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--queries", default=",".join(HEADLINE))
    ap.add_argument("--repeat", type=int, default=2)
    ap.add_argument("--explain-dir", default=None)
    ap.add_argument("--explain-suffix", default="before")
    ap.add_argument("--no-warmup", action="store_true")
    ap.add_argument("--ui", action="store_true")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_MEM", "24g"))
        .config("spark.ui.enabled", "true" if args.ui else "false")
        .appName("pdfplumber_rs_spark-bench-extra")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as e

    qs = e.queries()
    names = [n for n in args.queries.split(",") if n]
    if args.explain_dir:
        Path(args.explain_dir).mkdir(parents=True, exist_ok=True)
        for name in names:
            df = qs[name](spark, args.sf)
            p = Path(args.explain_dir) / f"{name}_{args.explain_suffix}.txt"
            p.write_text(df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"))
            print(f"explain -> {p}")

    if not args.no_warmup:
        warm = "/root/testdata/sf0.001"
        for name in names:
            try:
                qs[name](spark, warm).write.format("noop") \
                    .mode("overwrite").save()
            except Exception:
                pass

    times: dict[str, list[float]] = {n: [] for n in names}
    for _ in range(args.repeat):
        for name in names:
            spark.sparkContext._jvm.System.gc()
            spark.sparkContext.setJobDescription(f"{name} @ {args.sf}")
            t0 = time.time()
            qs[name](spark, args.sf).write.format("noop") \
                .mode("overwrite").save()
            times[name].append(round(time.time() - t0, 3))
            spark.sparkContext.setJobDescription(None)
    mins = {n: min(v) for n, v in times.items() if v}
    print(json.dumps({"sf": args.sf, "min": mins, "total_min":
                      round(sum(mins.values()), 3), "samples": times}))


if __name__ == "__main__" and sys.argv[1:2] != ["sweep"]:
    main()


def sweep() -> None:
    """Time EVERY registered query at --sf (single pass, noop sink,
    per-query wall seconds) — the round-6 all-operator examination."""
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--out", default="/tmp/sweep.json")
    ap.add_argument("mode")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .appName("pdfplumber_rs_spark-sweep")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as e

    qs = e.queries()
    times = {}
    for name, fn in qs.items():
        spark.sparkContext.setJobDescription(f"sweep {name}")
        t0 = time.time()
        try:
            fn(spark, args.sf).write.format("noop").mode("overwrite").save()
            times[name] = round(time.time() - t0, 3)
        except Exception as ex:  # noqa: BLE001
            times[name] = f"ERR {type(ex).__name__}: {str(ex)[:120]}"
        print(name, times[name], flush=True)
    Path(args.out).write_text(json.dumps(times, indent=1))


if __name__ == "__main__" and sys.argv[1:2] == ["sweep"]:
    sweep()
