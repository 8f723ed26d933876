"""The timed jobs, one per workload, run through the public ``pipeline``
and ``jobs`` entry points, plus the untimed collection of their outputs
for the check.

A workload object has four steps, and ``min_reps``: the fewest timed
repetitions a run makes, whatever ``--seconds`` says.

- ``write_inputs(docs, seed, dir)``: write the parquet input the program
  reads and return its paths, in arrival order (set-up);
- ``plan(spark, inp, out)``: the DataFrame the job builds to extract
  ``inp`` into the output directory ``out`` (timed for
  ``pipeline.plan_build_ms`` in the traced run);
- ``run(spark, inp, out)``: the timed job; returns state for ``collect``;
- ``collect(spark, docs, out, state)``: read back what the job committed
  and check it against ``docs`` (untimed); returns
  ``(CheckResult, counters)``.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from pdfplumber_rs_spark import jobs
from pdfplumber_rs_spark import pipeline as P

from . import inputs as I
from .checks import check_cells, check_text


class CrawlText:
    """Text-only extraction committed as a crawl arriving in segments
    into one fresh output directory: every later segment pays the resume
    anti-join against the batches already committed."""

    include = ()
    max_bytes = 8 << 20  # run_extract_job's extract_pages default
    min_reps = 1

    def write_inputs(self, docs, seed, d):
        segs = _segments(docs, I.CRAWL_SEGMENTS)
        paths = []
        for k, seg in enumerate(segs):
            paths.append(os.path.join(d, f"segment-{k}.parquet"))
            I.write_parquet(seg, seed, paths[-1])
        return paths

    def plan(self, spark, inp, out):
        # as run_extract_job builds it: list the committed batches, drop
        # their urls from the corpus, extract and aggregate the rest
        corpus = spark.read.parquet(*inp)
        done = jobs.committed_results(spark, out)
        todo = corpus if done is None else P.resume_filter(corpus, done)
        return P.document_text(P.extract_pages(todo, handle_skew=True,
                                               include=self.include))

    def run(self, spark, inp, out):
        seg_s = []
        for k in range(1, len(inp) + 1):
            t0 = time.perf_counter()
            corpus = spark.read.parquet(*inp[:k])
            jobs.run_extract_job(spark, corpus, out, handle_skew=True,
                                 include=self.include)
            seg_s.append(time.perf_counter() - t0)
        return {"segment_s": seg_s}

    def collect(self, spark, docs, out, state):
        res = jobs.committed_results(spark, out).select("url", "text")
        rows = [r.asDict() for r in res.collect()]
        lin = spark.read.parquet(f"{out}/lineage").agg(
            F.sum("n_pages").alias("p"), F.sum("n_errors").alias("e")).first()
        return check_text(docs, rows), {"pages_out": int(lin["p"]),
                                        "error_rows": int(lin["e"] or 0)}


class LayoutObjects:
    """Wide extraction: chars, words, edges and tables per page, written as
    the contract's struct/array page rows plus the exploded cells table.
    The page rows are persisted and materialized first, so the kernel runs
    once for both writes and the page-row write is a stage of its own."""

    include = ("chars", "words", "edges", "tables")
    max_bytes = 8 << 20
    # the first repetition after the warm-up runs 10-30% slower than the
    # next, whatever the warm-up's size; the median of two halves that
    min_reps = 2

    def write_inputs(self, docs, seed, d):
        return _write_one(docs, seed, d)

    def plan(self, spark, inp, out=None):
        return P.extract_pages(spark.read.parquet(*inp), include=self.include)

    def run(self, spark, inp, out):
        pages = self.plan(spark, inp).persist()
        pages.count()
        pages.write.parquet(f"{out}/pages")
        P.cells_table(pages).write.parquet(f"{out}/cells")
        pages.unpersist()
        return {}

    def collect(self, spark, docs, out, state):
        pages = spark.read.parquet(f"{out}/pages")
        page_rows = [(r["url"], r["page_number"])
                     for r in pages.select("url", "page_number").collect()]
        cells = [tuple(r) for r in spark.read.parquet(f"{out}/cells").select(
            "url", "page_number", "table_idx", "row", "col", "text").collect()]
        errors = pages.filter(F.col("error").isNotNull()).count()
        return (check_cells(docs, page_rows, cells),
                {"pages_out": len(page_rows), "error_rows": errors})


class SkewHostile:
    """Text extraction with the skew path on: giants above ``max_bytes``
    spill to the blob store and fan out as page-range rows. Per-url
    results go through ``document_text`` to parquet; the page rows stay
    persisted until the check has read their warnings."""

    include = ()
    max_bytes = I.SKEW_MAX_BYTES
    min_reps = 1

    def write_inputs(self, docs, seed, d):
        return _write_one(docs, seed, d)

    def plan(self, spark, inp, out=None):
        return P.document_text(self._pages(spark, inp))

    def _pages(self, spark, inp):
        return P.extract_pages(spark.read.parquet(*inp), handle_skew=True,
                               include=self.include, max_bytes=self.max_bytes)

    def run(self, spark, inp, out):
        pages = self._pages(spark, inp).persist()
        P.document_text(pages).write.parquet(f"{out}/docs")
        return {"pages": pages}

    def collect(self, spark, docs, out, state):
        pages = state.pop("pages")
        warn = {r["url"]: r["w"] for r in pages.groupBy("url").agg(
            F.flatten(F.collect_list("warnings")).alias("w")).collect()}
        n_pages = pages.count()
        pages.unpersist()
        rows = [dict(r.asDict(), warnings=warn.get(r["url"]))
                for r in spark.read.parquet(f"{out}/docs").select(
                    "url", "text", "error").collect()]
        errors = sum(1 for r in rows if r["error"])
        return check_text(docs, rows), {"pages_out": n_pages,
                                        "error_rows": errors}


WORKLOADS = {
    "crawl_text": CrawlText(),
    "layout_objects": LayoutObjects(),
    "skew_hostile": SkewHostile(),
}


def _write_one(docs: list, seed: int, d: str) -> list[str]:
    path = os.path.join(d, "input.parquet")
    I.write_parquet(docs, seed, path)
    return [path]


def _segments(docs: list, n: int) -> list[list]:
    """Split ``docs`` in order into ``n`` runs of about equal page count."""
    total = sum(d.n_pages for d in docs)
    segs: list[list] = [[] for _ in range(n)]
    acc = 0
    for d in docs:
        segs[min(n - 1, acc * n // total)].append(d)
        acc += d.n_pages
    return segs


def warmup_slice(docs: list, pages: int = 12, max_doc_pages: int = 4) -> list:
    """A small slice of the same workload for the untimed warm-up: the
    first documents, in generation order, of at most ``max_doc_pages``
    pages each, up to ``pages`` pages in total."""
    out, n = [], 0
    for d in docs:
        if d.n_pages <= max_doc_pages and n < pages:
            out.append(d)
            n += d.n_pages
    return out
