"""Spark-free tests of the mapInArrow boundary: `pipeline.row_kernel`
and the per-row functions the pipeline wrappers hand to it.

The page-row pins hash the Arrow output of `make_extract_kernel` over
deterministic pdfgen inputs (fixtures, CJK/CID pages, hostile
documents, a ranged row and blob-pointer rows), with `kernel_ms` zeroed.
They guard the byte identity of the extraction kernel's output; the
coordinate-sensitive pins guard its last-digit float arithmetic.
"""

from __future__ import annotations

import functools
import hashlib
import importlib
import os

import pyarrow as pa
import pytest

from pdfplumber_rs_spark import pipeline as P
from pdfplumber_rs_spark.sources import pdfgen

# sha256 of the page rows for (include=None, include=())
PAGE_ROW_PINS = {
    None: "f5e6aedac63417bd0556dfd44938b671c2993a170e26d8cacf8045285b19503b",
    (): "5779b969bc6aedcf14b758ea85af9176e39e77094c2cd3f87e91894de37a2047",
}


def _cjk_pdf() -> bytes:
    return pdfgen.build_pdf(
        [pdfgen.cjk_text_page_content(["中文字符", "数据"])],
        fonts={"FC": {"base": "CJKGB", "cid_encoding": "UniGB-UCS2-H"}})


def _cid_pdf() -> bytes:
    return pdfgen.build_pdf(
        [pdfgen.cid_text_page_content([[843, 850, 861], [34, 35, 36]])],
        fonts={"FJ": {"base": "CIDJP", "cid_encoding": "Identity-H",
                      "ordering": "Japan1", "cid_subtype": "CIDFontType0"}})


def _damaged_xref_pdf() -> bytes:
    pdf = pdfgen.fixture_text(8)
    return pdf[:pdf.rfind(b"\nxref\n")] + b"\nstartxref\n999999\n%%EOF\n"


def _truncated_stream_pdf() -> bytes:
    pdf = pdfgen.fixture_multipage(3, 10)
    return pdf[:pdf.find(b"stream\n") + 120]


def pin_batches(blob_dir: str) -> list[pa.RecordBatch]:
    """The three input column sets the extraction kernel accepts:
    (url, html, page_start, page_end), the same plus blob_path, and the
    two-column (url, html)."""
    docs = {
        "text": pdfgen.fixture_text(12),
        "multipage": pdfgen.fixture_multipage(3, 8),
        "lattice": pdfgen.fixture_lattice(4, 3),
        "stream": pdfgen.fixture_stream(5, 3),
        "complex": pdfgen.fixture_complex(2),
        "cjk": _cjk_pdf(),
        "cid": _cid_pdf(),
        "encrypted": pdfgen.encrypt_pdf(pdfgen.fixture_text(4), "pw", "owner"),
        "damaged-xref": _damaged_xref_pdf(),
        "truncated-stream": _truncated_stream_pdf(),
        "not-a-pdf": b"<html>not a pdf</html>",
        "empty": b"",
    }
    n = len(docs)
    plain = pa.RecordBatch.from_pydict({
        "url": [f"pin://{k}" for k in docs],
        "html": list(docs.values()),
        "page_start": pa.array([None] * n, pa.int32()),
        "page_end": pa.array([None] * n, pa.int32()),
    })
    blob = os.path.join(blob_dir, "blob.pdf")
    with open(blob, "wb") as f:
        f.write(pdfgen.fixture_multipage(4, 5))
    ranged = pa.RecordBatch.from_pydict({
        "url": ["pin://ranged", "pin://blob-range", "pin://blob-missing",
                "pin://no-bytes"],
        "html": pa.array([pdfgen.fixture_multipage(5, 4), None, None, None],
                         pa.binary()),
        "blob_path": [None, blob, "/nonexistent/pin-blob.pdf", None],
        "page_start": pa.array([1, 2, 0, None], pa.int32()),
        "page_end": pa.array([3, 4, 50, None], pa.int32()),
    })
    two_col = pa.RecordBatch.from_pydict({
        "url": ["pin://two-col"],
        "html": [pdfgen.fixture_complex(1)],
    })
    return [plain, ranged, two_col]


def kernel_rows(batches, include: tuple | None = None) -> list[dict]:
    """The extraction kernel's Arrow output as Python rows, `kernel_ms`
    zeroed."""
    kernel = P.make_extract_kernel(include=include)
    rows = [r for b in kernel(iter(batches)) for r in b.to_pylist()]
    for r in rows:
        r["kernel_ms"] = 0.0
    return rows


def rows_digest(rows: list[dict]) -> str:
    return hashlib.sha256(repr(rows).encode()).hexdigest()


@pytest.mark.parametrize("include", [None, ()], ids=["all", "text-only"])
def test_page_rows_match_pins(include, tmp_path):
    rows = kernel_rows(pin_batches(str(tmp_path)), include)
    assert rows_digest(rows) == PAGE_ROW_PINS[include]


# -- colour, shape, rotation and corpus-generator pins ---------------------------
# The batches above carry no coloured glyph, no coloured shape and no
# curve. These documents do: every colour operator family on chars
# (rg/RG, K, `sc` before any colour space, five-component `scn`,
# DeviceCMYK `cs` + `sc`, DeviceGray `CS` + `SC`), stroked and filled
# coloured lines and rects, a bezier and a closed-polygon curve, the same
# pages under /Rotate 90 and 270, and one or more documents from each
# `sources.corpus` PDF generator the queries read: coloured (rg/RG plus
# a `cm`), corpus (inline image, Link and Text annotations, MCIDs,
# bookmarks, a form field), page chrome, two-column layout, embedded
# TrueType and CFF fonts, and lattice, stream and merged-cell tables.

_COLOR_PAGE = (
    b"0.1 0.2 0.3 0.4 K 0.5 0.25 0 rg BT /F1 10.5 Tf 72 700 Td "
    b"(CMYK stroke, RGB fill) Tj ET\n"
    b"0.3 0.6 0.9 sc BT /F1 10.5 Tf 72 680 Td (sc, no colour space) Tj ET\n"
    b"0.2 0.4 0.6 0.8 1 scn BT /F1 10.5 Tf 72 660 Td "
    b"(five-component scn) Tj ET\n"
    b"/DeviceCMYK cs 0.7 0.1 0.2 0.05 sc /DeviceGray CS 0.35 SC "
    b"BT /F1 10.5 Tf 72 640 Td (DeviceCMYK sc, DeviceGray SC) Tj ET")

_SHAPE_PAGE = (
    b"1 0 0 RG 2.5 w 72 500 m 300 500 l S\n"
    b"0 0.5 1 RG 0.75 w 320 420 m 320 520 l S\n"
    b"0 0 1 rg 72 400 100 50 re f\n"
    b"0.2 0.8 0.2 RG 0.9 0.9 0 rg 1.25 w 200 400 80 40 re B\n"
    b"0.5 G 1.5 w 72 300 m 100 350 150 250 200 300 c S\n"
    b"0.1 0.2 0.3 0.4 k 300 300 m 350 350 l 400 300 l h f\n"
    b"BT /F1 9.7 Tf 80 410 Td (text over the shapes) Tj ET")

OBJECT_ROW_PIN = \
    "43e54b718e22c4784a20fe3fb63a547a5d9ed5f1b707801c66a2eaa801b6ae0c"


def object_batches() -> list[pa.RecordBatch]:
    from pdfplumber_rs_spark.sources import corpus

    docs = {
        "colours": pdfgen.build_pdf([_COLOR_PAGE]),
        "shapes": pdfgen.build_pdf([_SHAPE_PAGE]),
        "rotated": pdfgen.build_pdf([_SHAPE_PAGE, _COLOR_PAGE],
                                    page_rotations=[90, 270]),
    }
    for doc_id in (1, 2, 3, 4, 6):
        (row,) = corpus._colored_row(doc_id, f"coloured line {doc_id}")
        docs[row["url"]] = row["html"]
    text = "\n".join(f"corpus line {i} of the document" for i in range(52))
    for doc_id, body in ((7, "one line\ntwo lines"), (8, text)):
        (row,) = corpus._corpus_row(doc_id, body, "en")
        docs[row["url"]] = row["html"]
    words = " ".join(f"token{i}" for i in range(40))
    gen = [(corpus._chrome_row, (3, "first body line\nsecond body line")),
           (corpus._layout_row, (5, words)),
           (corpus._embedded_font_row, (4, "TrueType widths")),
           (corpus._embedded_font_row, (5, "CFF widths"))]
    items = [["1", "17", "N"], ["2", "36", "R"], ["3", "8", "A"]]
    gen += [(fn, (9, items)) for fn in (corpus._table_row,
                                        corpus._stream_table_row,
                                        corpus._merged_table_row)]
    for fn, args in gen:
        for row in fn(*args):
            docs[f"{fn.__name__}:{row['url']}"] = row["html"]
    return [pa.RecordBatch.from_pydict(
        {"url": list(docs), "html": list(docs.values())})]


def test_object_rows_match_pin():
    rows = kernel_rows(object_batches())
    assert all(r["error"] is None for r in rows)
    assert rows_digest(rows) == OBJECT_ROW_PIN


# -- coordinate-sensitive pins ----------------------------------------------------
# `pin_batches` puts every glyph in the upper half of the page, where
# `page_height - y` is exact, so arithmetic that differs only in the last
# digit (say `bottom - top` for `max_y - min_y`) gives the same bits there.
# These one-page documents set text in the lower half at fractional sizes,
# offsets and spacings, and pin the kernel's unrounded Arrow rows.

_IDENTITY_H = {"FJ": {"base": "CIDJP", "cid_encoding": "Identity-H",
                      "ordering": "Japan1", "cid_subtype": "CIDFontType0",
                      "w": "[34 [611.5 577.25 533]]"}}

COORD_PAGES = {
    "fractional-size": (
        b"BT /F1 9.7 Tf 72.35 301.17 Td "
        b"(Fractional 9.7 pt at odd offsets) Tj\n"
        b"0 -13.37 Td (second line, non-integer leading) Tj\n"
        b"/F1 11.3 Tf 17.13 -15.91 Td (Larger 11.3 pt, moved right) Tj ET",
        None),
    "cm-scale": (
        b"q 0.7 0 0 0.7 0 0 cm BT /F1 10 Tf 103.1 400.3 Td "
        b"(Scaled by a 0.7 cm) Tj\n0 -14.3 Td (Second scaled line) Tj ET Q",
        None),
    "spacing": (
        b"BT /F1 10.5 Tf 0.37 Tc 1.13 Tw 87 Tz 2.3 Ts 72.5 200.25 Td "
        b"(Tc Tw Tz and a rise) Tj\n0 -13.1 Td -0.21 Tc 0.4 Tw 112.5 Tz "
        b"-1.7 Ts (second line, wider) Tj ET",
        None),
    "tj-kerning": (
        b"BT /F1 9.7 Tf 72.3 190.7 Td [(Ke) -37.5 (rn) 120 (ing arr) 15.25 "
        b"(ay)] TJ\n0 -12.9 Td [(W) 80 (A) -33.3 (V) 50 (E words) -250 "
        b"(apart)] TJ ET",
        None),
    "identity-h": (
        b"BT /FJ 11.3 Tf 72.4 298.35 Td 0.23 Tc <034B0352035D> Tj\n"
        b"0 -13.7 Td [<0022> -50.5 <00230024>] TJ ET",
        _IDENTITY_H),
}

COORD_PINS = {
    "fractional-size":
        "76999c9d7e78272286f063670aaec62be3cd5fe3bf121c1ab6507743fae0b124",
    "cm-scale":
        "272a23537fee2dff9402f9a65376ac0ec3fdda77020332de322eb81bffaf668f",
    "spacing":
        "80eceec7815a7bf383cec4184b70a3d69d35f9c3453e011d99dea5c438c97d32",
    "tj-kerning":
        "96085eb8a6cb366d21478e61121fadcd872e992f0118fef490d9409b50294c24",
    "identity-h":
        "6b6b9f6f57ed15bff389a51dd48e56963b95a98ad8852609b4a17aceae9d8c8a",
}


def coord_page_digest(name: str) -> str:
    content, fonts = COORD_PAGES[name]
    rows = kernel_rows([pa.RecordBatch.from_pydict({
        "url": [f"pin://{name}"],
        "html": [pdfgen.build_pdf([content], fonts)]})])
    assert [r["error"] for r in rows] == [None] and rows[0]["chars"]
    return rows_digest(rows)


@pytest.mark.parametrize("name", list(COORD_PAGES))
def test_coordinate_sensitive_pins(name):
    assert coord_page_digest(name) == COORD_PINS[name]


# -- failure policy of the per-row functions ------------------------------------

class _Plan:
    """Stands in for the DataFrame a wrapper is given: hands back the
    kernel the wrapper passes to mapInArrow instead of running Spark."""

    def select(self, *cols):
        return self

    def mapInArrow(self, kernel, schema):
        return kernel


def _rows(kernel, urls, htmls) -> list[dict]:
    batch = pa.RecordBatch.from_pydict(
        {"url": urls, "html": pa.array(htmls, pa.binary())})
    return [r for b in kernel(iter([batch])) for r in b.to_pylist()]


NON_PDF = b"\x00not a pdf"


def test_extract_and_meta_give_error_rows():
    page, null_page = _rows(P.make_extract_kernel(include=()),
                            ["g", "n"], [NON_PDF, None])
    assert page["page_number"] == 0 and page["error"].startswith("no pages: ")
    assert null_page["error"].startswith("open failed: ")
    meta, null_meta = _rows(P.document_meta(_Plan()), ["g", "n"],
                            [NON_PDF, None])
    assert meta["n_pages"] == 0 and meta["error"].startswith("no pages: ")
    assert null_meta["error"].startswith("open failed: ")
    assert null_meta["title"] is None and null_meta["bookmarks"] == []


def test_validation_reports_findings_or_an_open_failed_row():
    rows = _rows(P.validation_table(_Plan()), ["g", "n"], [NON_PDF, None])
    assert [r["code"] for r in rows if r["url"] == "g"] == [
        "no-root", "repaired-xref", "no-pages"]
    assert [(r["code"], r["severity"]) for r in rows if r["url"] == "n"] == [
        ("open-failed", "error")]


@pytest.mark.parametrize("wrapper, cols", [
    (P.render_html, ("html_text",)),
    (P.render_markdown, ("markdown", "meta_json")),
])
def test_renderers_give_null_columns(wrapper, cols):
    garbage, null = _rows(wrapper(_Plan()), ["g", "n"], [NON_PDF, None])
    assert all(null[c] is None for c in cols)
    assert all(garbage[c] is not None for c in cols)  # lenient open, no pages


@pytest.mark.parametrize("make", [
    P.render_svg, P.structure_table, P.table_debug_table,
    P.signatures_table, lambda df: P.search_pages(df, "a"),
])
def test_per_page_kernels_give_no_rows(make):
    assert _rows(make(_Plan()), ["g", "n"], [NON_PDF, None]) == []


def test_spill_counts_zero_pages_for_non_pdf(tmp_path):
    spill = functools.partial(P._spill_rows, spill_dir=str(tmp_path))
    kernel = P.row_kernel(spill, P.SPILL_SCHEMA)
    (row,) = _rows(kernel, ["g"], [NON_PDF])
    assert row["n_pages"] == 0
    with open(row["blob_path"], "rb") as f:
        assert f.read() == NON_PDF


def test_html_kernels_have_no_try(monkeypatch):
    from pdfplumber_rs_spark.kernel import htmlstrip

    main = _rows(P.html_main_content(_Plan()), ["g", "n"], [NON_PDF, None])
    assert [r["n_blocks_kept"] for r in main] == [0, 0]
    assert _rows(P.html_links(_Plan()), ["g", "n"], [NON_PDF, None]) == []

    def boom(*a, **k):
        raise RuntimeError("boom")

    monkeypatch.setattr(htmlstrip, "extract_main_content", boom)
    with pytest.raises(RuntimeError):
        _rows(P.html_anchors(_Plan()), ["g"], [NON_PDF])


def _fail_on_second_call(monkeypatch, module, name):
    orig = getattr(module, name)
    calls = []

    def patched(*a, **k):
        calls.append(1)
        if len(calls) == 2:
            raise RuntimeError("page 2 broke")
        return orig(*a, **k)

    monkeypatch.setattr(module, name, patched)


@pytest.mark.parametrize("make, module, name", [
    (P.render_svg, "svg", "page_to_svg"),
    (P.table_debug_table, "tables", "table_debug"),
    (lambda df: P.search_pages(df, "Page"), "docextras", "search_chars"),
])
def test_failing_page_keeps_earlier_pages(monkeypatch, make, module, name):
    mod = importlib.import_module(f"pdfplumber_rs_spark.kernel.{module}")
    _fail_on_second_call(monkeypatch, mod, name)
    rows = _rows(make(_Plan()), ["m"], [pdfgen.fixture_multipage(3, 5)])
    assert rows and {r["page_number"] for r in rows} == {1}


def test_extract_marks_the_failing_page_and_goes_on(monkeypatch):
    from pdfplumber_rs_spark.kernel.page import Page

    _fail_on_second_call(monkeypatch, Page, "extract_words")
    rows = _rows(P.make_extract_kernel(include=()), ["m"],
                 [pdfgen.fixture_multipage(3, 5)])
    assert [(r["page_number"], r["error"]) for r in rows] == [
        (1, None), (2, "page 2: page 2 broke"), (3, None)]


# -- row_kernel -------------------------------------------------------------------

def test_row_kernel_flushes_at_most_flush_rows():
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType([StructField("k", LongType()),
                         StructField("i", LongType())])

    def explode(k, n):
        for i in range(n):
            yield {"k": k, "i": i}

    counts = [[0, 3, 11, 2], [25], [4, 4]]
    batches = [pa.RecordBatch.from_pydict({"k": list(range(len(c))), "n": c})
               for c in counts]
    out = list(P.row_kernel(explode, schema, flush_rows=5)(iter(batches)))
    assert out and all(b.num_rows <= 5 for b in out)
    rows = [(r["k"], r["i"]) for b in out for r in b.to_pylist()]
    assert rows == [(k, i) for c in counts
                    for k, n in enumerate(c) for i in range(n)]
    # a partial batch is flushed at the end of every input batch
    assert [b.num_rows for b in out] == [5, 5, 5, 1] + [5] * 5 + [5, 3]


# -- per-row functions of functions/ and sources/warc ---------------------------

def _kernel_rows(fn, schema, **cols) -> list[dict]:
    batch = pa.RecordBatch.from_pydict(cols)
    return [r for b in P.row_kernel(fn, schema)(iter([batch]))
            for r in b.to_pylist()]


def test_image_ops_turn_decode_failures_into_columns():
    from pdfplumber_rs_spark.functions import multimodal as mm

    png = mm.make_png(4, 4)
    bad_png = png[:33] + b"\x00" * 8  # IHDR intact, IDAT garbage
    tiff = b"II*\x00" + b"\x00" * 16
    data = [png, bad_png, tiff, None]
    feats = _kernel_rows(mm._feature_rows, mm.FEATURE_SCHEMA,
                         media_id=[0, 1, 2, 3], data=data)
    assert [(f["format"], f["width"]) for f in feats] == [
        ("png", 4), ("png", 4), (None, None), (None, None)]
    assert feats[0]["decode_error"] is None and feats[0]["mean_luma"] >= 0
    assert feats[1]["decode_error"].startswith("corrupt: ")
    assert feats[2]["decode_error"].startswith("unsupported codec: ")
    assert feats[3]["n_bytes"] == 0
    hashes = _kernel_rows(mm._dhash_rows, mm.DHASH_SCHEMA,
                          media_id=[0, 1, 2, 3], data=data)
    assert [h["decode_error"] is None for h in hashes] == [
        True, False, False, False]
    assert 0 <= hashes[0]["dhash_hi"] < 1 << 32
    resized = _kernel_rows(functools.partial(mm._resize_rows, max_side=2),
                           mm.RESIZE_SCHEMA, media_id=[0, 2], data=[png, tiff])
    assert mm.decode_image(resized[0]["data"])[:2] == (2, 2)
    assert resized[1]["data"] is None and resized[1]["resize_error"]


def test_robots_parsers_group_their_own_way_and_have_no_try(monkeypatch):
    from pdfplumber_rs_spark.functions import webclean as wc

    txt = ("User-agent: a\nCrawl-delay: 5\nUser-agent: b # c\n"
           "Disallow: /x\nSitemap: https://s/1\n\nCrawl-delay: 2\n")

    def rules(ua):
        return [r["prefix"] for r in wc._robots_rule_rows("h", txt,
                                                           user_agent=ua)]

    def delay(ua):
        return [r["crawl_delay"] for r in wc._crawl_delay_rows(
            "h", txt, user_agent=ua)]

    # a Crawl-delay line ends the User-agent lines for crawl delays only
    assert rules("a") == rules("b") == ["/x"] and delay("a") == [5.0]
    assert delay("b") == [2.0]
    assert [r["sitemap_url"] for r in wc._sitemap_rows("h", txt)] == [
        "https://s/1"]

    def boom(val):
        raise RuntimeError("boom")

    monkeypatch.setattr(wc, "_robots_rule_regex", boom)
    with pytest.raises(RuntimeError):
        rules("a")


def test_warc_rows_keep_utc_instants_and_warn_on_unreadable_files():
    from datetime import datetime, timezone

    from pdfplumber_rs_spark.sources import warc

    ts = datetime(2024, 5, 6, 7, 8, 9, tzinfo=timezone.utc)
    data = warc.build_warc([("https://e/1", ts, b"<p>hi</p>")],
                           gzip_per_record=True)
    fn = functools.partial(warc._warc_file_rows, want_types=("response",))
    batch = pa.RecordBatch.from_pydict(
        {"path": ["ok.warc.gz", "bad.warc.gz"],
         "content": [data, b"\x1f\x8b" + b"\x00" * 8]})
    (out,) = P.row_kernel(fn, warc.WARC_SCHEMA)(iter([batch]))
    assert out.schema.field("warc_ts").type == pa.timestamp("us", tz="UTC")
    ok, bad = out.to_pylist()
    assert (ok["url"], ok["warc_ts"], ok["html"]) == (
        "https://e/1", ts, b"<p>hi</p>")
    assert bad["url"] is None and bad["record_offset"] == 0
    assert bad["warning"].startswith("unreadable WARC: ")


def test_row_kernel_is_the_one_arrow_boundary():
    """Every per-row kernel runs through row_kernel: it alone converts
    Arrow batches to Python rows and back, and the one mapInPandas is
    write_warc's per-partition sink."""
    import ast
    import re

    from tests.test_session import ROOT, _tracked_py

    def where(files, pattern):
        for f in files:
            text = (ROOT / f).read_text(errors="replace")
            for m in re.finditer(pattern, text):
                yield f, text.count("\n", 0, m.start()) + 1

    def span(path, name):
        tree = ast.parse((ROOT / path).read_text())
        (node,) = [n for n in ast.walk(tree)
                   if isinstance(n, ast.FunctionDef) and n.name == name]
        return path, range(node.lineno, node.end_lineno + 1)

    def inside(hits, path_lines):
        path, lines = path_lines
        return all(f == path and n in lines for f, n in hits)

    files = _tracked_py()
    pandas_maps = list(where(files, r"\.mapInPandas\("))
    assert len(pandas_maps) == 1
    assert inside(pandas_maps, span("pdfplumber_rs_spark/sources/warc.py",
                                    "write_warc"))
    package = [f for f in files if f.startswith("pdfplumber_rs_spark/")]
    conversions = list(where(package,
                             r"to_pydict\(|RecordBatch\.from_pylist\("))
    assert len(conversions) == 2
    assert inside(conversions, span("pdfplumber_rs_spark/pipeline.py",
                                    "row_kernel"))


def test_word_tokens_is_the_one_tokenizer():
    """functions/ splits text into word tokens in one place,
    text.word_tokens; every other op calls it."""
    import ast

    from tests.test_session import ROOT, _tracked_py

    splits = []
    for f in _tracked_py():
        if f.startswith("pdfplumber_rs_spark/functions/"):
            for top in ast.parse((ROOT / f).read_text()).body:
                splits += [
                    (f, getattr(top, "name", "<module>"))
                    for n in ast.walk(top) if isinstance(n, ast.Call)
                    and getattr(n.func, "attr", None) == "split"
                    and any(isinstance(a, ast.Constant)
                            and a.value == "[^a-z0-9]+" for a in n.args)]
    assert splits == [("pdfplumber_rs_spark/functions/text.py",
                       "word_tokens")]


# Defaulted parameters that no call in the repository sets, kept on purpose.
KEPT_KNOBS = {
    **{f"pdfplumber_rs_spark.pipeline:{fn}(options)":
       "carries the document password; credentials stay configurable"
       for fn in ("document_meta", "render_html", "render_svg",
                  "search_pages", "signatures_table", "structure_table",
                  "table_debug_table", "validation_table")},
    "pdfplumber_rs_spark.pipeline:extract_pages(spill_dir)":
        "a storage path, which depends on the deployment",
    "pdfplumber_rs_spark.jobs:run_extract_job(handle_skew)":
        "the benchmark's crawl workload passes it",
}


def test_every_public_default_has_a_caller():
    """No knob without a caller: every defaulted parameter of a public
    module-level package function is set by some call in a tracked .py
    file, or is in KEPT_KNOBS. Calls resolve by function name; a
    positional argument sets the parameter at its index; a call with
    *args or **kw sets every parameter. An argument sets nothing if it
    is a literal equal to the default (same type and value, so True is
    not 1), or if it only passes on an unset parameter of the enclosing
    function, so the scan runs to a fixed point. A function referenced
    as a value (a dispatch table entry, a test parameter) is set at the
    indexes and keywords that some call in the same file reaches through
    a callee that names no function: a variable, a subscript, a call."""
    import ast
    import builtins

    from tests.test_session import ROOT, _tracked_py

    trees = {f: ast.parse((ROOT / f).read_text()) for f in _tracked_py()}

    def defaulted(fn):
        a = fn.args
        pos = a.posonlyargs + a.args
        out = {p.arg: (i, d) for i, (p, d) in enumerate(
            zip(pos[len(pos) - len(a.defaults):], a.defaults),
            len(pos) - len(a.defaults))}
        out.update({p.arg: (None, d) for p, d in zip(a.kwonlyargs,
                                                     a.kw_defaults)
                    if d is not None})
        return out

    def literal(node):
        try:
            value = ast.literal_eval(node)
        except (ValueError, TypeError):
            return ()
        return (type(value), value)

    def starred(call):
        return (any(isinstance(a, ast.Starred) for a in call.args)
                or any(k.arg is None for k in call.keywords))

    targets = {}  # name -> [(knob prefix, def node)]
    for f, tree in trees.items():
        if f.startswith("pdfplumber_rs_spark/"):
            module = f[:-3].replace("/", ".")
            for fn in tree.body:
                if (isinstance(fn, ast.FunctionDef)
                        and not fn.name.startswith("_") and defaulted(fn)):
                    targets.setdefault(fn.name, []).append(
                        (f"{module}:{fn.name}", fn))
    knob_of = {id(fn): prefix for v in targets.values() for prefix, fn in v}
    named = set(dir(builtins)) | {
        n.name for tree in trees.values() for n in ast.walk(tree)
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef,
                          ast.ClassDef))}

    calls = []  # (call, enclosing defs)
    refs = {}  # file -> names referenced as values
    reached = {}  # file -> indexes and keywords reached by value calls

    def visit(node, scope, imported, f):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.Lambda)):
            scope = scope + (node,)
        if isinstance(node, ast.Call):
            calls.append((node, scope))
            func = node.func  # the callee itself is not a value reference
            if not isinstance(func, ast.Attribute) and not (
                    isinstance(func, ast.Name)
                    and (func.id in named or func.id in imported)):
                reached.setdefault(f, set()).update(
                    ["*"] if starred(node) else
                    [*range(len(node.args)), *(k.arg for k in node.keywords)])
            children = [*node.args, *node.keywords,
                        *([func.value] if isinstance(func, ast.Attribute)
                          else [] if isinstance(func, ast.Name) else [func])]
        else:
            if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
                refs.setdefault(f, set()).add(node.id)
            if (isinstance(node, ast.Attribute)
                    and isinstance(node.value, ast.Name)
                    and node.value.id in imported):
                refs.setdefault(f, set()).add(node.attr)
            children = ast.iter_child_nodes(node)
        for child in children:
            visit(child, scope, imported, f)

    for f, tree in trees.items():
        visit(tree, (), {a.asname or a.name.split(".")[0]
                         for n in ast.walk(tree)
                         if isinstance(n, (ast.Import, ast.ImportFrom))
                         for a in n.names}, f)

    def passes_on_unset(value, scope, unset):
        if not isinstance(value, ast.Name):
            return False
        for fn in reversed(scope):
            a = fn.args
            if value.id in {p.arg for p in a.posonlyargs + a.args
                            + a.kwonlyargs}:
                return f"{knob_of.get(id(fn))}({value.id})" in unset
        return False

    def sets(value, default, scope, unset):
        if value is None:
            return False
        given = literal(value)
        return not (given and given == literal(default)) and \
            not passes_on_unset(value, scope, unset)

    knobs = {f"{prefix}({p})" for v in targets.values()
             for prefix, fn in v for p in defaulted(fn)}
    assert set(KEPT_KNOBS) <= knobs
    unset, last = set(), None
    while unset != last:
        last, set_ = unset, set()
        for f, names in refs.items():
            hit = reached.get(f, set())
            for name in names & set(targets):
                set_ |= {f"{prefix}({p})" for prefix, fn in targets[name]
                         for p, (i, _) in defaulted(fn).items()
                         if "*" in hit or i in hit or p in hit}
        for call, scope in calls:
            func = call.func
            name = getattr(func, "id", None) or getattr(func, "attr", None)
            star = starred(call)
            given = {k.arg: k.value for k in call.keywords}
            for prefix, fn in targets.get(name, ()):
                for p, (i, default) in defaulted(fn).items():
                    value = given.get(p, call.args[i] if i is not None
                                      and i < len(call.args) else None)
                    if star or sets(value, default, scope, last):
                        set_.add(f"{prefix}({p})")
        unset = knobs - set_
    assert sorted(unset - set(KEPT_KNOBS)) == []
