"""Tests of the benchmark itself; no Spark session needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import copy
from pathlib import Path

import pyarrow as pa
import pytest

from pdfplumber_rs_spark import pipeline as P
from perfbench import eventlog, inputs
from perfbench.checks import check_cells, check_text

DATA = Path(__file__).resolve().parent / "data"


@pytest.mark.parametrize("name", sorted(inputs.WORKLOADS))
def test_same_seed_same_input_bytes(name, tmp_path):
    gen = inputs.WORKLOADS[name]
    a, b, c = gen(7), gen(7), gen(8)
    inputs.write_parquet(a, 7, str(tmp_path / "a.parquet"))
    inputs.write_parquet(b, 7, str(tmp_path / "b.parquet"))
    assert (tmp_path / "a.parquet").read_bytes() == \
        (tmp_path / "b.parquet").read_bytes()
    assert [d.pdf for d in a] != [d.pdf for d in c]
    # the seed moves content, not the amount of work
    assert sum(d.n_pages for d in a) == sum(d.n_pages for d in c)


def test_heavy_tailed_counts_hit_the_total():
    import random

    counts = inputs.heavy_tailed_counts(random.Random(3), 50, 200, 16)
    assert sum(counts) == 200 and min(counts) >= 1 and max(counts) <= 16


def _extract(docs, include):
    """Run the extraction kernel in-process over one Arrow batch."""
    batch = pa.RecordBatch.from_pydict({
        "url": [d.url for d in docs],
        "html": [d.pdf for d in docs],
        "page_start": pa.array([None] * len(docs), pa.int32()),
        "page_end": pa.array([None] * len(docs), pa.int32()),
    })
    kernel = P.make_extract_kernel(include=include)
    return [r for b in kernel(iter([batch])) for r in b.to_pylist()]


def _doc_rows(pages):
    """document_text's per-url result: non-empty page texts joined in
    page order, with errors and warnings carried along."""
    by_url: dict[str, list] = {}
    for p in pages:
        by_url.setdefault(p["url"], []).append(p)
    return [{"url": u,
             "text": "\n".join(p["text"] for p in sorted(
                 ps, key=lambda p: p["page_number"]) if p["text"]),
             "error": max((p["error"] for p in ps if p["error"]), default=None),
             "warnings": [w for p in ps for w in p["warnings"]]}
            for u, ps in by_url.items()]


def test_text_check_passes_on_kernel_output_and_fails_on_wrong_text():
    docs = [d for d in inputs.crawl_text(5) if d.n_pages <= 2][:4]
    rows = _doc_rows(_extract(docs, ()))
    assert check_text(docs, rows).failed == 0
    wrong = copy.deepcopy(docs)
    wrong[1].expected_text = wrong[1].expected_text.replace("a", "e", 1)
    res = check_text(wrong, rows)
    assert res.failed == 1 and wrong[1].url in res.problems[0]


def test_text_check_fails_on_missing_or_duplicated_url():
    docs = [d for d in inputs.crawl_text(5) if d.n_pages == 1][:3]
    rows = [{"url": d.url, "text": d.expected_text} for d in docs]
    assert check_text(docs, rows[:2]).failed == 1
    assert check_text(docs, rows + rows[:1]).failed == 1


def test_hostile_outcomes():
    docs = [d for d in inputs.skew_hostile(5)
            if d.kind in ("encrypted", "truncated", "repaired")]
    rows = _doc_rows(_extract(docs, ()))
    res = check_text(docs, rows)
    assert res.failed == 0
    enc = next(d for d in docs if d.kind == "encrypted")
    unflagged = [dict(r, warnings=[], error=None) if r["url"] == enc.url
                 else r for r in rows]
    assert check_text(docs, unflagged).failed == 1
    trunc = next(d for d in docs if d.kind == "truncated")
    invented = [dict(r, text=r["text"] + " invented") if r["url"] == trunc.url
                else r for r in rows]
    assert check_text(docs, invented).failed == 1
    # an unflagged row must keep every line wholly before the cut
    assert trunc.kept_text
    for text in ("", trunc.kept_text[:len(trunc.kept_text) // 2]):
        lost = [dict(r, text=text, warnings=[], error=None)
                if r["url"] == trunc.url else r for r in rows]
        assert check_text(docs, lost).failed == 1


def test_bomb_inflates_to_the_stated_size():
    import re
    import zlib

    pdf = inputs.flate_bomb("one line\ntwo lines")
    m = re.search(rb"/FlateDecode >>\nstream\n(.*)\nendstream", pdf, re.S)
    assert len(pdf) < 256 << 10
    assert len(zlib.decompress(m.group(1))) > inputs.BOMB_DECODED_BYTES


def _cells(pages):
    return [(p["url"], p["page_number"], t, r, c, text)
            for p in pages for t, tab in enumerate(p["tables"])
            for r, row in enumerate(tab["rows"])
            for c, text in enumerate(row)]


def test_cell_check_passes_on_kernel_output_and_fails_on_wrong_cell():
    docs = inputs.layout_objects(5)[:4]
    pages = _extract(docs, ("tables",))
    page_rows = [(p["url"], p["page_number"]) for p in pages]
    cells = _cells(pages)
    assert any(d.cells for d in docs) and cells
    assert check_cells(docs, page_rows, cells).failed == 0

    wrong = copy.deepcopy(docs)
    d = next(d for d in wrong if d.cells)
    p = min(d.cells)
    d.cells[p][0][0] += "x"
    assert check_cells(wrong, page_rows, cells).failed == 1

    # cells on a page that has no ruled table
    bare = copy.deepcopy(docs)
    d = next(d for d in bare if d.cells)
    del d.cells[min(d.cells)]
    assert check_cells(bare, page_rows, cells).failed == 1


def test_eventlog_parser_reproduces_recorded_values():
    stages = eventlog.read(str(DATA / "eventlog-small.jsonl"))
    assert {s.label for s in stages.values()} == {"timed/0"}
    kinds = sorted(s.kind for s in stages.values())
    assert kinds == EXPECTED_KINDS
    (m,) = eventlog.labelled_metrics(stages, ["timed/0"], cores=4)
    for key, value in EXPECTED_METRICS.items():
        assert m[key] == pytest.approx(value, rel=1e-9), key


# Recorded from one traced skew_hostile repetition (trimmed to the fields
# the parser reads): a scan stage with the giant-document spill pass, the
# salted kernel stage (reads exactly the 229655 shuffle bytes the scan
# wrote), the partial aggregation, the final aggregation + parquet write,
# and a one-task listing stage.
EXPECTED_KINDS = ["agg", "kernel", "other", "python", "write"]
EXPECTED_METRICS = {
    "kernel_stage_s": 4.078,
    "write_stage_s": 0.25,
    "agg_stage_s": 0.221,
    "python_run_s": 12.488,
    "python_start_s": 0.073,
    "arrow_in_mb": 1379584 / 2**20,
    "arrow_out_mb": 965160 / 2**20,
    "gc_s": 0.053,
    "salt_shuffle_mb": 229655 / 2**20,
    "task_p50_s": 1.648,
    "task_max_s": 2.311,
    "slot_busy_frac": 12.52 / (4.078 * 4),
    "first_launch_ms": 1792213766011,
}
