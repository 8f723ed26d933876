"""Headline benchmark: runs the engine's flagship queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
the host-sized `pdfplumber_rs_spark.session.local_session` (set
SPARK_GRAFT_CPUS / SPARK_GRAFT_MEM to override) and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec",
 "queries": {name: sec, ...}, "sf": ..., "docs_per_sec": ...}

Every query materializes via the noop sink (full computation, no
driver collect). The flagship is the PDF render→extract roundtrip —
the north-rule metric is documents extracted per second.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

HEADLINE = [
    "pdf_text_roundtrip",
    "pdf_table_cells",
    "pricing_summary",
    "revenue_topn",
    "sessionize",
    "doctop_cumsum",
    "dedup_exact",
    "minhash_dedup",
    "simhash",
    "cosine_topk",
    "quality",
]


# Reference-published per-operator numbers (Rust, per-core) from
# /root/reference/crates/pdfplumber/benches/README.md:44-49; the bench
# bodies below replicate crates/pdfplumber/benches/extraction.rs
# criterion groups (:512-523) on the same five fixture classes
# (README.md:26-36). Groups without a published Rust number show None.
MICRO_RUST_MS = {
    ("text_extraction", "simple_1page"): 0.12,
    ("text_extraction", "medium_10page"): 4.8,
    ("text_extraction", "complex_10page"): 2.9,
    ("table_detection_lattice", "20x5_single_table"): 0.12,
    ("table_detection_stream", "20x5_single_table"): 0.20,
    ("table_detection_lattice", "complex_10page"): 2.3,
}


def _micro_benches():
    """(group, fixture, body) triples mirroring extraction.rs: the doc
    is opened OUTSIDE the timed body (criterion's Pdf::open outside
    b.iter); each body re-interprets the page(s) then runs the
    operator, exactly like the Rust b.iter closures."""
    from pdfplumber_rs_spark.config import TableSettings, TextOptions
    from pdfplumber_rs_spark.kernel.document import Document
    from pdfplumber_rs_spark.sources import pdfgen

    line = ("Line {} of the document with some words to measure "
            "extraction speed here")
    simple = pdfgen.build_pdf([pdfgen.text_page_content(
        [line.format(i + 1) for i in range(10)], font="F1")])
    medium = pdfgen.build_pdf([pdfgen.text_page_content(
        [line.format(i + 1) for i in range(30)], font="F1")
        for _ in range(10)])
    complex_ = pdfgen.fixture_complex(10)
    lattice = pdfgen.fixture_lattice(20, 5)
    stream = pdfgen.fixture_stream(20, 5)

    docs = {name: Document(data) for name, data in [
        ("simple_1page", simple), ("medium_10page", medium),
        ("complex_10page", complex_), ("20x5_lattice", lattice),
        ("20x5_stream", stream)]}
    raw = {"simple_1page": simple, "medium_10page": medium,
           "complex_10page": complex_}

    def all_pages(doc, op):
        def body():
            for i in range(doc.page_count):
                op(doc.page(i))
        return body

    text_opts = TextOptions()
    layout_opts = TextOptions(layout=True)
    lattice_settings = TableSettings()
    stream_settings = TableSettings(strategy="stream",
                                    min_words_vertical=2,
                                    min_words_horizontal=1)
    benches = []
    for fx in ("simple_1page", "medium_10page", "complex_10page"):
        data = raw[fx]
        benches.append(("pdf_open", fx, lambda d=data: Document(d)))
        doc = docs[fx]
        benches.append(("char_extraction", fx,
                        all_pages(doc, lambda p: len(p.chars))))
        benches.append(("word_extraction", fx,
                        all_pages(doc, lambda p: len(p.extract_words()))))
        benches.append(("text_extraction", fx,
                        all_pages(doc, lambda p: len(
                            p.extract_text(text_opts)))))
    benches.append(("text_extraction_layout", "complex_10page",
                    all_pages(docs["complex_10page"],
                              lambda p: len(p.extract_text(layout_opts)))))
    benches.append(("table_detection_lattice", "20x5_single_table",
                    all_pages(docs["20x5_lattice"],
                              lambda p: len(p.find_tables(
                                  lattice_settings)))))
    benches.append(("table_detection_lattice", "complex_10page",
                    all_pages(docs["complex_10page"],
                              lambda p: len(p.find_tables(
                                  lattice_settings)))))
    benches.append(("table_detection_stream", "20x5_single_table",
                    all_pages(docs["20x5_stream"],
                              lambda p: len(p.find_tables(
                                  stream_settings)))))
    benches.append(("edge_computation", "lattice_20x5",
                    all_pages(docs["20x5_lattice"],
                              lambda p: len(p.edges()))))
    benches.append(("edge_computation", "complex_10page",
                    all_pages(docs["complex_10page"],
                              lambda p: len(p.edges()))))
    return benches


def _time_ms(body, min_time: float = 0.2, epochs: int = 3) -> float:
    """Best-epoch mean ms per body call (criterion-style: calibrate the
    iteration count to fill min_time, take the fastest epoch to shed
    host-noise spikes)."""
    best = float("inf")
    n = 1
    while True:  # calibrate
        t0 = time.perf_counter()
        for _ in range(n):
            body()
        dt = time.perf_counter() - t0
        if dt >= min_time or n >= 4096:
            break
        n *= 2
    for _ in range(epochs):
        t0 = time.perf_counter()
        for _ in range(n):
            body()
        dt = time.perf_counter() - t0
        best = min(best, dt / n)
    return best * 1000.0


def micro() -> None:
    """Per-operator kernel microbenchmark, criterion-parity with the
    reference's bench suite. Prints one JSON line plus the
    BASELINE.md markdown table. Single-core pure-kernel numbers — the
    Spark battery (default mode) measures the distributed path."""
    results = {}
    for group, fx, body in _micro_benches():
        ms = _time_ms(body)
        results[f"{group}/{fx}"] = round(ms, 3)
    print(json.dumps({
        "metric": "kernel per-operator ms (criterion-parity, 1 core)",
        "unit": "ms", "micro": results,
    }))
    print()
    print("| Group | Fixture | this repo (ms, 1 core) | "
          "pdfplumber-rs (ms) | Python pdfplumber (ms) |")
    print("|---|---|---|---|---|")
    python_ms = {  # benches/README.md:44-49 published Python column
        ("text_extraction", "simple_1page"): 5.0,
        ("text_extraction", "medium_10page"): 50.0,
        ("text_extraction", "complex_10page"): 80.0,
        ("table_detection_lattice", "20x5_single_table"): 15.0,
        ("table_detection_stream", "20x5_single_table"): 20.0,
        ("table_detection_lattice", "complex_10page"): 120.0,
    }
    for key, ms in results.items():
        group, fx = key.split("/", 1)
        rust = MICRO_RUST_MS.get((group, fx))
        py = python_ms.get((group, fx))
        rust_s = f"~{rust}" if rust is not None else "unpublished"
        py_s = f"~{py:g}" if py is not None else "unpublished"
        print(f"| {group} | {fx} | {ms:.2f} | {rust_s} | {py_s} |")


def noop_seconds(spark, query, sf_dir: str, label: str) -> float:
    """Seconds to build `query(spark, sf_dir)` and run it to the noop
    sink under the job label `label`. GC fence first: old-gen garbage
    from earlier queries made allocation-heavy plans (minhash shingle
    explode) up to 8x slower (16.3s -> 2.1s after a forced GC)."""
    sc = spark.sparkContext
    sc._jvm.System.gc()
    sc.setJobDescription(label)
    try:
        t0 = time.time()
        query(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return round(time.time() - t0, 3)
    finally:
        sc.setJobDescription(None)


def warm_up(spark, qs: dict, names: list[str]) -> None:
    """Untimed pass at the smallest SF: exercises the same codegen /
    Arrow / kernel paths so the timed passes measure steady-state
    throughput (what a long-running cluster job sees), not JVM JIT."""
    warm_dir = "/root/testdata/sf0.001"
    for name in names if os.path.isdir(warm_dir) else ():
        try:
            noop_seconds(spark, qs[name], warm_dir, f"warm-up {name}")
        except Exception:  # noqa: BLE001 — warmup must never fail the bench
            pass


def main() -> None:
    from pdfplumber_rs_spark.session import local_session

    spark = local_session("pdfplumber_rs_spark-bench")

    import __spark_entry__ as e

    qs = e.queries()
    times: dict[str, float] = {}
    n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    warm_up(spark, qs, HEADLINE)
    # two timed passes, per-query min: this VM shows sporadic multi-
    # second external stalls (steal spikes); min-of-2 reports the
    # engine's steady-state cost, which is what a cluster run amortizes
    for _pass in range(2):
        for name in HEADLINE:
            dt = noop_seconds(spark, qs[name], SF_DIR, f"{name} @ {SF_DIR}")
            times[name] = min(dt, times.get(name, dt))
    total = round(sum(times.values()), 3)
    docs_per_sec = round(n_docs / times["pdf_text_roundtrip"], 2)
    print(
        json.dumps(
            {
                "metric": "headline query wall time (PDF extraction roundtrip "
                          "+ operator battery)",
                "value": total,
                "unit": "sec",
                "queries": times,
                "sf": SF_DIR.rstrip("/").rsplit("sf", 1)[-1],
                "docs_per_sec": docs_per_sec,
                "cpus": spark.sparkContext.defaultParallelism,
                "n_docs": n_docs,
            }
        )
    )


if __name__ == "__main__":
    if "--micro" in sys.argv:
        micro()
    else:
        main()
