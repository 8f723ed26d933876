"""Per-query measurement harness next to bench.py's headline battery.

Usage:
  python bench_extra.py [--sf DIR] [--queries a,b,c] [--repeat N]
      [--explain-dir plans/r06 --explain-suffix before] [--no-warmup] [--ui]
  python bench_extra.py sweep [--sf DIR] [--out FILE]

The default mode times each query in isolation (min of --repeat passes)
and optionally dumps .explain("formatted") per query; `sweep` times
every registered query once. Both use bench.py's session and timed loop
(GC fence, job label, noop sink), so their numbers compare with it.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from bench import HEADLINE, SF_DIR, noop_seconds, warm_up  # noqa: E402
from pdfplumber_rs_spark.session import local_session  # noqa: E402


def main(argv: list[str]) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=SF_DIR)
    ap.add_argument("--queries", default=",".join(HEADLINE))
    ap.add_argument("--repeat", type=int, default=2)
    ap.add_argument("--explain-dir", default=None)
    ap.add_argument("--explain-suffix", default="before")
    ap.add_argument("--no-warmup", action="store_true")
    ap.add_argument("--ui", action="store_true")
    args = ap.parse_args(argv)

    spark = local_session("pdfplumber_rs_spark-bench-extra",
                          **{"spark.ui.enabled": str(args.ui).lower()})

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
        warm_up(spark, qs, names)

    times: dict[str, list[float]] = {n: [] for n in names}
    for _ in range(args.repeat):
        for name in names:
            times[name].append(noop_seconds(spark, qs[name], args.sf,
                                            f"{name} @ {args.sf}"))
    mins = {n: min(v) for n, v in times.items() if v}
    print(json.dumps({"sf": args.sf, "min": mins, "total_min":
                      round(sum(mins.values()), 3), "samples": times}))


def sweep(argv: list[str]) -> None:
    """Time EVERY registered query at --sf (single pass, per-query wall
    seconds; a failing query records its error instead)."""
    ap = argparse.ArgumentParser(prog="bench_extra.py sweep")
    ap.add_argument("--sf", default=SF_DIR)
    ap.add_argument("--out", default="/tmp/sweep.json")
    args = ap.parse_args(argv)

    spark = local_session("pdfplumber_rs_spark-sweep")
    import __spark_entry__ as e

    times = {}
    for name, fn in e.queries().items():
        try:
            times[name] = noop_seconds(spark, fn, args.sf, f"sweep {name}")
        except Exception as ex:  # noqa: BLE001
            times[name] = f"ERR {type(ex).__name__}: {str(ex)[:120]}"
        print(name, times[name], flush=True)
    Path(args.out).write_text(json.dumps(times, indent=1))


if __name__ == "__main__":
    if sys.argv[1:2] == ["sweep"]:
        sweep(sys.argv[2:])
    else:
        main(sys.argv[1:])
