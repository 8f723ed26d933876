"""Two-cluster-size scaling evidence (north rule): run the SAME PDF
extraction job at local[N] and local[4N] on the same input and report
throughput at both plus scaling efficiency = (T_N / T_4N) / 4.

Each measurement runs in its own subprocess (one JVM per master
setting). Writes BENCH_SCALING.json and prints a summary.

Usage: python scripts/scaling.py [sf_dir] [N]
       python scripts/scaling.py [sf_dir] [cores_per_exec] --multi-jvm

--multi-jvm (VERDICT r4 "Next round" #4) measures the N→4N pairing
with PER-EXECUTOR JVMs instead of one fat local[] JVM:
local-cluster[1,C,mem] vs local-cluster[4,C,mem] — 1 vs 4 executor
JVMs at C cores each, the closest this single host gets to a real
4-worker cluster. This isolates the single-JVM saturation artifact
(GC/allocator contention at local[32]) from genuine scaling: each
executor JVM serves only C cores, like a production executor."""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]

WORKER = r"""
import json, sys, time
sys.path.insert(0, sys.argv[3])
from pdfplumber_rs_spark.session import local_session

cpus = int(sys.argv[1])
sf_dir = sys.argv[2]
master = sys.argv[4] if len(sys.argv) > 4 else None
conf = {"spark.sql.shuffle.partitions": str(max(cpus * 2, 8))}
if master:
    # local-cluster: executor JVMs are separate processes: ship the repo
    # import path and size each executor like a production worker, not
    # the default 1g (the kernel holds Arrow batches of rendered PDF
    # bytes). locality.wait=0: with the corpus cached across 4 executors
    # the default 3s per-locality-level wait serializes short tasks —
    # the job is CPU-bound, any slot is as good as a cache-local one
    conf.update({"spark.executorEnv.PYTHONPATH": sys.argv[3],
                 "spark.executor.memory": "6g",
                 "spark.locality.wait": "0s"})
spark = local_session("pdfplumber_rs_spark-scaling", cpus=cpus,
                      master=master, **conf)
from pyspark.sql import functions as F
from pdfplumber_rs_spark import pipeline as P
from pdfplumber_rs_spark.sources.corpus import CORPUS_SCHEMA, _corpus_row

# realistic multi-page documents: replicate each text 10x (one
# Common-Crawl-ish PDF of several pages) and each doc 2x
REPLICATE = 2
TEXT_REP = 10
docs = (
    spark.read.parquet(f"{sf_dir}/documents.parquet")
    .select("doc_id", "text", "lang")
    .crossJoin(spark.range(REPLICATE).withColumnRenamed("id", "rep"))
    .select(
        (F.col("doc_id") * REPLICATE + F.col("rep")).alias("doc_id"),
        F.array_join(
            F.transform(F.sequence(F.lit(1), F.lit(TEXT_REP)),
                        lambda _: F.col("text")),
            "\n",
        ).alias("text"),
        "lang",
    )
)
base = P.map_rows(docs, _corpus_row, CORPUS_SCHEMA)
corpus = (
    base.select("url", "html")
    .repartition(cpus * 4, "url")
    .persist()
)
n_docs = corpus.count()  # materialize: PDF bytes generated BEFORE timing
# warm-up across all partitions: python workers + Arrow + codegen
P.document_text(
    P.extract_pages(corpus.sample(0.02, seed=1), handle_skew=False)
).write.format("noop").mode("overwrite").save()
t0 = time.time()
# the flagship path (include=()): full parse + words + text per url,
# object arrays pruned at the kernel — the north metric is byte-exact
# extracted text per url; serializing 40KB/page of char rows is a
# different (storage) workload measured by the object-table queries.
# The kernel stage runs on the production salt's partition count
# (pipeline.kernel_parallelism: 2x the master's default parallelism).
pages = P.extract_pages(corpus, handle_skew=False, include=())
P.document_text(pages).write.format("noop").mode("overwrite").save()
dt = time.time() - t0
sc = spark.sparkContext
print(json.dumps({"cpus": cpus, "sec": round(dt, 2), "n_docs": n_docs,
                  "docs_per_sec": round(n_docs / dt, 2),
                  "master": sc.master,
                  "default_parallelism": sc.defaultParallelism}))
"""


def run(cpus: int, sf_dir: str, master: str | None = None) -> dict:
    argv = [sys.executable, "-c", WORKER, str(cpus), sf_dir, str(REPO)]
    if master:
        argv.append(master)
    out = subprocess.run(
        argv, capture_output=True, text=True, timeout=3600, cwd=str(REPO),
    )
    for line in reversed(out.stdout.strip().splitlines()):
        line = line.strip()
        if line.startswith("{"):
            return json.loads(line)
    raise RuntimeError(f"worker failed: {out.stderr[-2000:]}")


def main() -> None:
    args = [a for a in sys.argv[1:] if a != "--multi-jvm"]
    multi_jvm = "--multi-jvm" in sys.argv[1:]
    sf_dir = args[0] if len(args) > 0 else "/root/testdata/sf0.1"
    n = int(args[1]) if len(args) > 1 else 8
    if multi_jvm:
        # 1 vs 4 executor JVMs at n cores each (n -> 4n total cores,
        # one JVM per executor — the production shape)
        lo = run(n, sf_dir, f"local-cluster[1,{n},8192]")
        hi = run(4 * n, sf_dir, f"local-cluster[4,{n},8192]")
    else:
        lo = run(n, sf_dir)
        hi = run(4 * n, sf_dir)
    efficiency = round((lo["sec"] / hi["sec"]) / 4, 3)
    result = {
        "sf_dir": sf_dir,
        "low": lo,
        "high": hi,
        "speedup": round(lo["sec"] / hi["sec"], 2),
        "scaling_efficiency": efficiency,
        "target": 0.8,
        "pass": efficiency >= 0.8,
    }
    # MERGE into the evidence file, keyed by N: the headline north-rule
    # pairing is the 2->8 run; other N (e.g. the 8->32 single-host
    # saturation diagnostic) update their own section and never clobber
    # the headline or its prior-run history
    path = REPO / "BENCH_SCALING.json"
    doc: dict = {}
    if path.exists():
        try:
            doc = json.loads(path.read_text())
        except ValueError:
            doc = {}
    if multi_jvm:
        key = f"multi_jvm_pairing_{n}_to_{4 * n}"
    else:
        key = ("north_rule_pairing" if n == 2
               else f"saturated_pairing_{n}_to_{4 * n}")
    prev = doc.get(key)
    prior = (prev or {}).get("prior_runs", [])
    if prev and "low" in prev:
        prior = prior + [{
            "low_sec": prev["low"]["sec"], "high_sec": prev["high"]["sec"],
            "scaling_efficiency": prev["scaling_efficiency"],
        }]
    doc[key] = {**result, "prior_runs": prior}
    if n == 2 and not multi_jvm:
        doc["scaling_efficiency"] = efficiency
        doc["target"] = 0.8
        doc["pass"] = efficiency >= 0.8
    path.write_text(json.dumps(doc, indent=2))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
