"""Decoded content sizes of the repository's corpora: for each corpus,
the largest decoded /Contents of one page (all parts together) and the
largest form XObject content, with the budget off. This is the evidence
for `kernel/filters.py`'s MAX_CONTENT_BYTES.

Corpora: the benchmark's three workloads at one seed (per document kind),
and any parquet directories given on the command line, e.g. the contract
corpora that `sources/corpus.py:cached_corpus` writes (every binary
column whose value starts with %PDF is read).

Usage: python scripts/content_sizes.py [--seed N] [parquet_dir ...]
"""

from __future__ import annotations

import argparse
import glob
import os
import sys
from collections import defaultdict
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pdfplumber_rs_spark.kernel.docparser import PdfDocument  # noqa: E402
from pdfplumber_rs_spark.kernel.filters import decode_stream  # noqa: E402
from pdfplumber_rs_spark.kernel.objects import Name, Stream  # noqa: E402


def _forms(doc: PdfDocument, resources, seen: set[int]):
    """Every form XObject reachable from `resources`, once each."""
    xobjects = doc.resolve((doc.resolve(resources) or {}).get("XObject"))
    for v in (xobjects or {}).values():
        form = doc.resolve(v)
        if (isinstance(form, Stream) and id(form) not in seen
                and doc.resolve(form.dict.get("Subtype")) == Name("Form")):
            seen.add(id(form))
            yield form
            yield from _forms(doc, form.dict.get("Resources"), seen)


def sizes(pdf: bytes) -> tuple[int, int, int]:
    """(pages, largest page content, largest form content) of one PDF."""
    doc = PdfDocument(pdf, [])
    pages = doc.pages()
    page_max = form_max = 0
    seen: set[int] = set()
    for page in pages:
        contents = doc.resolve(page.get("Contents"))
        if not isinstance(contents, list):
            contents = [contents]
        parts = [c for c in map(doc.resolve, contents) if isinstance(c, Stream)]
        page_max = max(page_max, sum(len(decode_stream(doc, c)) for c in parts))
        for form in _forms(doc, page.get("Resources"), seen):
            form_max = max(form_max, len(decode_stream(doc, form)))
    return len(pages), page_max, form_max


def _benchmark_corpora(seed: int):
    from perfbench import inputs

    for name, build in inputs.WORKLOADS.items():
        by_kind = defaultdict(list)
        for d in build(seed):
            by_kind[d.kind].append(d.pdf)
        for kind, pdfs in sorted(by_kind.items()):
            yield f"{name}[{kind}]", pdfs


def _parquet_corpora(dirs: list[str]):
    import pyarrow.parquet as pq

    for d in dirs:
        pdfs = []
        for f in sorted(glob.glob(os.path.join(d, "*.parquet"))):
            t = pq.read_table(f)
            for col in t.column_names:
                for v in t.column(col).to_pylist():
                    if isinstance(v, bytes) and v.startswith(b"%PDF"):
                        pdfs.append(v)
        if pdfs:
            yield os.path.basename(d.rstrip("/")), pdfs


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=4242)
    ap.add_argument("parquet_dirs", nargs="*")
    args = ap.parse_args()
    print(f"{'corpus':40} {'docs':>6} {'pages':>6} {'page max B':>11} "
          f"{'form max B':>11}")
    for name, pdfs in [*_benchmark_corpora(args.seed),
                       *_parquet_corpora(args.parquet_dirs)]:
        stats = [sizes(p) for p in pdfs]
        print(f"{name:40} {len(pdfs):6d} {sum(s[0] for s in stats):6d} "
              f"{max(s[1] for s in stats):11d} {max(s[2] for s in stats):11d}")


if __name__ == "__main__":
    main()
