"""Single-core, in-process pass over a fixed seeded sample of a workload:
times the public kernel calls one by one, then ``make_extract_kernel``
over an Arrow batch of the same documents. The kernel's time per page
minus the calls it makes is ``pipeline.encode_ms_per_page`` (row
assembly and Arrow encoding)."""

from __future__ import annotations

import random
import time

import pyarrow as pa

from pdfplumber_rs_spark import pipeline as P
from pdfplumber_rs_spark.kernel.document import Document
from pdfplumber_rs_spark.kernel.layout import extract_text_from_words


def sample(docs: list, seed: int, pages: int = 16,
           max_doc_pages: int = 6) -> list:
    """Seeded sample of ordinary documents (no giants, no hostile rows)
    with about ``pages`` pages."""
    pool = [d for d in docs
            if d.kind in ("clean", "layout") and d.n_pages <= max_doc_pages]
    random.Random(f"kernel-sample/{seed}").shuffle(pool)
    out, n = [], 0
    for d in pool:
        if n >= pages:
            break
        out.append(d)
        n += d.n_pages
    return out


def _calls(docs: list, include: tuple) -> tuple[dict, dict]:
    ms = dict.fromkeys(("open", "build", "words", "text", "tables", "edges"),
                       0.0)
    n = dict.fromkeys(("docs", "pages", "chars", "words", "tables"), 0)
    clock = time.perf_counter
    for d in docs:
        t0 = clock()
        doc = Document(d.pdf)
        ms["open"] += clock() - t0
        n["docs"] += 1
        for i in range(doc.page_count):
            t0 = clock()
            page = doc.page(i)
            t1 = clock()
            words = page.extract_words()
            t2 = clock()
            extract_text_from_words(words)
            t3 = clock()
            ms["build"] += t1 - t0
            ms["words"] += t2 - t1
            ms["text"] += t3 - t2
            if "tables" in include:
                t0 = clock()
                n["tables"] += len(page.find_tables())
                ms["tables"] += clock() - t0
            if "edges" in include:
                t0 = clock()
                page.edges()
                ms["edges"] += clock() - t0
            n["pages"] += 1
            n["chars"] += len(page.chars)
            n["words"] += len(words)
    return {k: v * 1000.0 for k, v in ms.items()}, n


def _kernel_ms(docs: list, include: tuple) -> float:
    batch = pa.RecordBatch.from_pydict({
        "url": [d.url for d in docs],
        "html": [d.pdf for d in docs],
        "page_start": pa.array([None] * len(docs), pa.int32()),
        "page_end": pa.array([None] * len(docs), pa.int32()),
    })
    kernel = P.make_extract_kernel(include=include)
    t0 = time.perf_counter()
    for _ in kernel(iter([batch])):
        pass
    return (time.perf_counter() - t0) * 1000.0


def run(docs: list, include: tuple, rounds: int = 2) -> dict[str, float]:
    """Per-layer kernel metrics for ``docs`` under the workload's
    ``include`` set, summed over ``rounds`` passes. The calls and the
    kernel alternate document by document, so a slow spell of the host
    lands on both sides of the encode difference. One untimed document
    warms imports and caches first."""
    _calls(docs[:1], include)
    _kernel_ms(docs[:1], include)
    ms = dict.fromkeys(("open", "build", "words", "text", "tables", "edges"),
                       0.0)
    n: dict[str, int] = {}
    kernel = 0.0
    for _ in range(rounds):
        for d in docs:
            dms, dn = _calls([d], include)
            kernel += _kernel_ms([d], include)
            for k, v in dms.items():
                ms[k] += v
            for k, v in dn.items():
                n[k] = n.get(k, 0) + v
    pages = max(n["pages"], 1)
    return {
        "kernel.document.open_ms": ms["open"] / max(n["docs"], 1),
        "kernel.page.build_ms": ms["build"] / pages,
        "kernel.words.ms": ms["words"] / pages,
        "kernel.layout.text_ms": ms["text"] / pages,
        "kernel.tables.ms": ms["tables"] / pages,
        "kernel.page.edges_ms": ms["edges"] / pages,
        "kernel.chars_per_page": n["chars"] / pages,
        "kernel.words_per_page": n["words"] / pages,
        "kernel.tables_per_page": n["tables"] / pages,
        "pipeline.encode_ms_per_page": (kernel - sum(ms.values())) / pages,
    }
