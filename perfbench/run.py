#!/usr/bin/env python3
"""Extraction benchmark: one workload per invocation.

    python3 perfbench/run.py --workload crawl_text --seed 1 --seconds 6 --trace 0

Set-up (timed as ``setup_s``): generate the workload's input from the seed,
start the pinned ``local[4]`` session, and run the job once, untimed, on a
small slice of the same workload. Then the timed job repeats, each repetition
into fresh output and spill directories behind a GC fence, until
``--seconds`` is used up and at least the workload's ``min_reps`` have run;
every repetition's output is read back and checked outside the timed
window. ``job_s`` is the median repetition.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` turns on the
Spark event log, adds a single-core in-process kernel pass and prints the
per-layer metrics, and writes spans to ``.perfbench_work/traces/``.
Each metric is printed as ``name value unit``; the last line of standard
output is one JSON object: correct, attempted, failed, metrics.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from perfbench import eventlog, inputs, kernelpass  # noqa: E402
from perfbench.procs import RssSampler, wait_for_children  # noqa: E402
from perfbench.spans import Spans  # noqa: E402
from perfbench.workloads import WORKLOADS, warmup_slice  # noqa: E402

CORES = 4
WORK = ROOT / ".perfbench_work"

# metric names and units: BENCHMARK.json is the one list of both
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
E2E_UNITS = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
PER_LAYER_UNITS = {m["name"]: m["unit"] for m in SPEC["per_layer"]}


def start_session(work: Path, event_dir: Path | None):
    """The benchmark's Spark session, pinned to a 4-core, 15 GiB host: one
    driver process, ``local[4]``, driver heap well inside 15 GiB, console
    progress off, production AQE settings, and every scratch directory
    inside the run's work directory."""
    from pyspark.sql import SparkSession

    for sub in ("spark-local", "tmp"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    # every JVM, the launcher's included: no /tmp/hsperfdata, tmp in work
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    b = (
        SparkSession.builder.master(f"local[{CORES}]")
        .appName("perfbench")
        .config("spark.driver.memory", "3g")
        .config("spark.sql.shuffle.partitions", str(CORES))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", str(work / "spark-local"))
        .config("spark.sql.warehouse.dir", str(work / "warehouse"))
    )
    if event_dir is not None:
        event_dir.mkdir(parents=True, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", event_dir.as_uri())
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait for every process it started."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    wait_for_children()


def parquet_bytes(d: Path) -> int:
    return sum(p.stat().st_size for p in d.rglob("*.parquet"))


def cpu_times() -> list[int]:
    """The host's aggregate ``cpu`` jiffies from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    name, wl, traced = args.workload, WORKLOADS[args.workload], bool(args.trace)
    run_id = f"{name}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = WORK / run_id
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    spans = Spans(run_id)
    try:
        result = measure(args, wl, work, spans)
        if traced:
            (WORK / "traces").mkdir(exist_ok=True)
            spans.write(str(WORK / "traces" / f"{run_id}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def measure(args, wl, work: Path, spans: Spans) -> dict:
    """Set up, run the timed repetitions and check them; print the
    metrics by name and return the result object."""
    name, traced = args.workload, bool(args.trace)
    event_dir = work / "eventlog" if traced else None
    sampler = RssSampler().start()
    spark = None
    try:
        with spans.span("setup"):
            with spans.span("sources.generate"):
                t0 = time.perf_counter()
                docs = inputs.WORKLOADS[name](args.seed)
                (work / "input").mkdir()
                inp = wl.write_inputs(docs, args.seed, str(work / "input"))
                gen_s = time.perf_counter() - t0
            with spans.span("spark.session"):
                t0 = time.perf_counter()
                spark = start_session(work, event_dir)
                session_s = time.perf_counter() - t0
            with spans.span("warmup"):
                t0 = time.perf_counter()
                # the whole job, crawl_text's resume segment included: a
                # first use left to the timed job makes it noisy
                warm = warmup_slice(docs)
                (work / "warm-input").mkdir()
                warm_inp = wl.write_inputs(warm, args.seed,
                                           str(work / "warm-input"))
                os.environ["SPARK_GRAFT_SPILL_DIR"] = str(work / "warm-spill")
                spark.sparkContext.setJobDescription("warmup")
                state = wl.run(spark, warm_inp, str(work / "warm-out"))
                # read back as the timed repetitions are; the timed
                # repetitions' checks are the ones reported
                wl.collect(spark, warm, str(work / "warm-out"), state)
                warm_s = time.perf_counter() - t0
        setup_s = session_s + gen_s + warm_s

        sc = spark.sparkContext
        job_s, out_bytes, segs, starts, labels = [], [], [], [], []
        attempted = failed = 0
        problems: list[str] = []
        counters: dict[str, list] = {}
        cpu0 = cpu_times()
        t_measure = time.perf_counter()
        while (len(job_s) < wl.min_reps or time.perf_counter() - t_measure
               + median(job_s) <= args.seconds):
            i = len(job_s)
            rep = work / f"rep-{i}"
            (rep / "spill").mkdir(parents=True)
            os.environ["SPARK_GRAFT_SPILL_DIR"] = str(rep / "spill")
            gc.collect()
            spark._jvm.System.gc()
            labels.append(f"timed/{i}")
            sc.setJobDescription(labels[-1])
            starts.append(time.time())
            with spans.span("jobs.timed", rep=i):
                t0 = time.perf_counter()
                state = wl.run(spark, inp, str(rep / "out"))
                job_s.append(time.perf_counter() - t0)
            sc.setJobDescription(f"check/{i}")
            with spans.span("check", rep=i):
                res, cnt = wl.collect(spark, docs, str(rep / "out"), state)
            attempted += res.attempted
            failed += res.failed
            problems += res.problems
            cnt.update(flagged_rows=res.flagged_rows,
                       unflagged_loss_rows=res.unflagged_loss_rows)
            for k, v in cnt.items():
                counters.setdefault(k, []).append(v)
            segs.append(state.get("segment_s", []))
            out_bytes.append(parquet_bytes(rep / "out"))
            shutil.rmtree(rep)
        cpu1 = cpu_times()
        steal = (cpu1[7] - cpu0[7]) / max(1, sum(cpu1) - sum(cpu0))

        layers = {}
        if traced:
            sc.setJobDescription("trace/extra")
            layers = trace_extras(spark, wl, docs, inp, args.seed, work,
                                  spans)
    finally:
        if spark is not None:
            with spans.span("spark.stop"):
                stop_session(spark)
        sampler.stop()

    n_docs = len(docs)
    if traced:
        metrics, units = layer_metrics(event_dir, labels, starts, job_s, segs,
                                       counters, layers)
    else:
        e2e = {
            "setup_s": setup_s,
            "job_s": median(job_s),
            "docs_per_s": n_docs / median(job_s),
            "peak_worker_rss_mb": sampler.peak_mib,
            "output_bytes_per_doc": median(out_bytes) / n_docs,
        }
        metrics, units = {k: e2e[k] for k in E2E_UNITS}, E2E_UNITS

    print(f"# {name} seed={args.seed} trace={args.trace} docs={n_docs} "
          f"pages={sum(d.n_pages for d in docs)} reps={len(job_s)} "
          f"job_s={[round(x, 3) for x in job_s]}")
    print(f"# setup: session {session_s:.3f} s, generate {gen_s:.3f} s, "
          f"warm-up {warm_s:.3f} s; python workers seen "
          f"{sampler.workers_seen}; host steal in timed window "
          f"{steal:.1%}")
    for k, v in metrics.items():
        print(f"{k} {v:.6g} {units[k]}")
    print(f"failed_doc_ratio {failed / attempted:.6g} ratio")
    for p in problems[:5]:
        print(f"# check: {p}")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }


def trace_extras(spark, wl, docs, inp, seed, work, spans) -> dict:
    """Traced-run figures that need the live session or the driver
    process: plan build time, page-range rows and the kernel pass."""
    from pyspark.sql import functions as F

    from pdfplumber_rs_spark import pipeline as P

    out = {}
    plan_ms = []
    for _ in range(3):
        with spans.span("pipeline.plan_build"):
            t0 = time.perf_counter()
            # against the warm-up's committed output, for a resume plan
            wl.plan(spark, inp, str(work / "warm-out"))._jdf \
                .queryExecution().executedPlan()
            plan_ms.append((time.perf_counter() - t0) * 1000.0)
    out["pipeline.plan_build_ms"] = median(plan_ms)
    (work / "range-spill").mkdir()
    with spans.span("pipeline.split_giant_documents"):
        split = P.split_giant_documents(
            spark.read.parquet(*inp).select("url", "html"),
            max_bytes=wl.max_bytes, spill_dir=str(work / "range-spill"))
        out["pipeline.range_rows"] = split.filter(
            F.col("blob_path").isNotNull()).count()
    with spans.span("kernel.pass"):
        out.update(kernelpass.run(kernelpass.sample(docs, seed), wl.include))
    return out


def layer_metrics(event_dir, labels, starts, job_s, segs, counters, layers):
    """Per-layer metrics of a traced run: medians over the timed
    repetitions of the event-log figures, the output counters and the
    driver timers, plus the in-process figures in ``layers``."""
    logs = [p for p in event_dir.iterdir() if p.is_file()]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log, found {logs}")
    stages = eventlog.read(str(logs[0]))
    per_rep = eventlog.labelled_metrics(stages, labels, CORES)
    m = {}
    for key in per_rep[0]:
        if key != "first_launch_ms":
            m[f"pipeline.{key}"] = median([r[key] for r in per_rep])
    m["pipeline.first_task_delay_s"] = median(
        [r["first_launch_ms"] / 1000.0 - s for r, s in zip(per_rep, starts)])
    for key in ("pages_out", "error_rows", "flagged_rows",
                "unflagged_loss_rows"):
        m[f"pipeline.{key}"] = median(counters[key])
    m["jobs.segment_s"] = median([x for s in segs for x in s])
    m["jobs.segment_growth"] = median([s[-1] / s[0] for s in segs if s])
    m["trace.job_s"] = median(job_s)
    m.update(layers)
    return ({k: m[k] for k in PER_LAYER_UNITS},
            PER_LAYER_UNITS)


if __name__ == "__main__":
    sys.exit(main())
