"""spark-submit entry point: the production extraction job.

    spark-submit --master <cluster> \
        --py-files dist/pdfplumber_rs_spark.zip \
        scripts/submit_job.py --input <corpus parquet> --output <dir>

Reads an Iceberg/parquet corpus of Common-Crawl-style pages
(url, html:binary, ...), runs the full extraction pipeline (skew-aware:
giant blobs spill once and ship pointer rows), assembles per-url text,
and commits results + per-partition lineage + a metrics JSON through
jobs.run_extract_job: numbered batch directories durable iff Spark's
_SUCCESS marker exists (the parquet stand-in for Iceberg snapshot
commits). Re-running with the same output is checkpoint-resumable —
already-committed urls are dropped with a left-anti join before any
kernel work, a run killed mid-write leaves only an ignorable
uncommitted directory, and the job is a no-op once caught up
(SURVEY §4(d)).
"""

from __future__ import annotations

import argparse


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="corpus parquet/Iceberg path")
    ap.add_argument("--output", required=True, help="result sink directory")
    ap.add_argument("--no-resume", action="store_true",
                    help="reprocess everything (skip the left-anti resume)")
    ap.add_argument("--include", default="",
                    help="comma list of side sections (chars,words,...); "
                         "empty = text-only (maximum kernel pruning)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    # master/resources come from spark-submit; only job-level conf here
    spark = (
        SparkSession.builder.appName("pdfplumber-rs-spark-extract")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )

    from pdfplumber_rs_spark import jobs

    corpus = spark.read.parquet(args.input)
    out = args.output.rstrip("/")
    if args.no_resume:
        # fresh batch over everything: point resume at a scratch view
        # by clearing the committed set — simplest honest semantics is
        # a distinct output; refuse the footgun instead of clobbering
        if jobs.committed_batches(spark, out):
            raise SystemExit(
                "--no-resume with an existing committed output would "
                "double-ingest; use a fresh --output directory")
    include = tuple(s for s in args.include.split(",") if s)
    metrics = jobs.run_extract_job(spark, corpus, out, include=include)
    print(__import__("json").dumps(metrics))
    spark.stop()


if __name__ == "__main__":
    main()
