"""Kernel unit tests mirroring the reference's inline suites
(SURVEY.md §5.1): tokenizer edge cases, char bbox math, word
clustering tolerances, table pipeline stages, filters, budgets."""

from __future__ import annotations

import zlib
from types import SimpleNamespace

import pytest

from pdfplumber_rs_spark.config import (
    DedupeOptions,
    ExplicitLines,
    ExtractOptions,
    TableSettings,
    WordOptions,
)
from pdfplumber_rs_spark.kernel.chars import CharColumns
from pdfplumber_rs_spark.kernel.document import Document, extract_document
from pdfplumber_rs_spark.kernel import filters
from pdfplumber_rs_spark.kernel.filters import (FLATE_PARTIAL_WARNING, NO_CAP,
                                                decode_content)
from pdfplumber_rs_spark.kernel.objects import Lexer, Name, Ref, Stream
from pdfplumber_rs_spark.kernel.tables import (
    cells_to_tables,
    edges_to_intersections,
    find_tables,
    intersections_to_cells,
    join_edge_group,
    merge_edges,
    snap_edges,
    table_debug,
    table_rows,
)
from pdfplumber_rs_spark.kernel.words import extract_words
from pdfplumber_rs_spark.sources import pdfgen


def make_char(text, x0, top=100.0, size=10.0, width=6.0):
    return {
        "text": text, "x0": x0, "top": top, "x1": x0 + width,
        "bottom": top + size, "fontname": "Courier", "size": size,
        "doctop": top, "upright": True, "direction": "ltr",
        "char_code": ord(text[0]) if text else 0, "mcid": None, "tag": None,
    }


# -- lexer ---------------------------------------------------------------------

def test_lexer_basic_objects():
    lx = Lexer(b"/Name (str) <41> [1 2] << /K 3 >> 4 0 R 5 true null")
    assert lx.next_object() == Name("Name")
    assert lx.next_object() == b"str"
    assert lx.next_object() == b"A"
    assert lx.next_object() == [1, 2]
    assert lx.next_object() == {"K": 3}
    assert lx.next_object() == Ref(4, 0)
    assert lx.next_object() == 5
    assert lx.next_object() is True
    assert lx.next_object() is None


def test_lexer_string_escapes():
    lx = Lexer(rb"(a\(b\)c \\ \n \101)")
    assert lx.next_object() == b"a(b)c \\ \n A"


def test_lexer_integer_run_is_linear():
    """Regression: `num gen R` lookahead must not recurse through integer
    runs (was O(n²) on objstm offset tables)."""
    import time

    data = b"[" + b" ".join(str(i).encode() for i in range(40000)) + b"]"
    t0 = time.time()
    out = Lexer(data).next_object()
    assert len(out) > 0
    assert time.time() - t0 < 2.0


def test_lexer_nested_dict():
    lx = Lexer(b"<< /A << /B [1 [2]] >> /C /D >>")
    assert lx.next_object() == {"A": {"B": [1, [2]]}, "C": Name("D")}


# -- char bbox math (char_extraction.rs:170-279) --------------------------------

def test_char_bbox_helvetica_12pt():
    """12pt A at (72,720) on 792-high page → bbox (72, 63.516, 80.004, 75.516)
    with Helvetica AFM descent -207 (golden oracle convention)."""
    pdf = pdfgen.build_pdf(
        [b"BT /F1 12 Tf 72 720 Td (A) Tj ET"], fonts={"F1": "Helvetica"}
    )
    res = extract_document(pdf)
    ch = res["pages"][0]["chars"][0]
    assert ch["text"] == "A"
    assert abs(ch["x0"] - 72.0) < 1e-9
    assert abs(ch["x1"] - 72.0 - 12 * 667 / 1000) < 1e-9
    # baseline at y=720; descent -207/1000*12 = -2.484; top = H - (720+9.516)
    assert abs(ch["bottom"] - ch["top"] - 12.0) < 1e-9
    assert abs((792 - ch["bottom"]) - (720 - 2.484)) < 1e-9
    assert ch["size"] == 12.0
    assert ch["upright"] is True


def test_char_rise_shifts_bbox():
    pdf = pdfgen.build_pdf(
        [b"BT /F1 12 Tf 72 720 Td 5 Ts (A) Tj ET"], fonts={"F1": "Helvetica"}
    )
    base = pdfgen.build_pdf(
        [b"BT /F1 12 Tf 72 720 Td (A) Tj ET"], fonts={"F1": "Helvetica"}
    )
    c1 = extract_document(pdf)["pages"][0]["chars"][0]
    c0 = extract_document(base)["pages"][0]["chars"][0]
    assert abs((c0["top"] - c1["top"]) - 5.0) < 1e-9


def test_tj_array_kerning():
    """TJ numeric adjustment: tx = -(adj/1000)·Tfs·Th."""
    pdf = pdfgen.build_pdf(
        [b"BT /F2 10 Tf 72 720 Td [(A) -500 (B)] TJ ET"]
    )
    chars = extract_document(pdf)["pages"][0]["chars"]
    a, b = chars
    gap = b["x0"] - a["x1"]
    assert abs(gap - 5.0) < 1e-9  # 500/1000*10


# -- word clustering (words.rs:394-1588 patterns) --------------------------------

def test_words_split_on_gap():
    chars = [make_char("a", 10), make_char("b", 16),  # touching
             make_char("c", 30)]  # gap 8 > 3
    words = extract_words(CharColumns.from_dicts(chars), WordOptions())
    assert [w["text"] for w in words] == ["ab", "c"]


def test_words_tolerance_boundary():
    # gap exactly x_tolerance keeps the word together (> tol splits)
    chars = [make_char("a", 10), make_char("b", 19.0)]  # gap 3.0
    assert len(extract_words(CharColumns.from_dicts(chars), WordOptions())) == 1
    chars = [make_char("a", 10), make_char("b", 19.1)]  # gap 3.1
    assert len(extract_words(CharColumns.from_dicts(chars), WordOptions())) == 2


def test_words_blank_split():
    chars = [make_char("a", 10), make_char(" ", 16), make_char("b", 22)]
    words = extract_words(CharColumns.from_dicts(chars), WordOptions())
    assert [w["text"] for w in words] == ["a", "b"]
    words = extract_words(CharColumns.from_dicts(chars), WordOptions(keep_blank_chars=True))
    assert [w["text"] for w in words] == ["a b"]


def test_words_multiline():
    chars = [make_char("a", 10, top=100), make_char("b", 10, top=120)]
    words = extract_words(CharColumns.from_dicts(chars), WordOptions())
    assert len(words) == 2


def test_words_reversed_input_order():
    chars = [make_char("b", 16), make_char("a", 10)]
    words = extract_words(CharColumns.from_dicts(chars), WordOptions())
    assert [w["text"] for w in words] == ["ab"]


def test_vectorized_order_chains_like_cluster_list():
    """Lines chain while doctop <= last + y_tolerance (pdfplumber's
    cluster_list). For these two doctops b - a rounds to just over 3.0
    while b <= a + 3.0, so both must share one line on pages of any
    size: 70 glyphs take the vectorized order, under 64 the sequential
    one."""
    from pdfplumber_rs_spark.kernel.words import _order_perm, _sequential_order

    a = 125.802
    b = 792.0 - ((792.0 - a) - 3.0)
    assert b - a > 3.0 and not b > a + 3.0
    chars = [make_char("x", 10.0 + 20 * i, top=(a, b)[i % 2])
             for i in range(70)]
    cols = CharColumns.from_dicts(chars)
    assert _order_perm(cols, 3.0).tolist() == _sequential_order(cols, 3.0)
    x0s = [w["x0"] for w in extract_words(cols, WordOptions())]
    assert x0s == sorted(x0s) and len(x0s) == 70  # one line, left to right


def test_ligature_expansion():
    chars = [make_char("ﬁ", 10)]
    words = extract_words(CharColumns.from_dicts(chars), WordOptions())
    assert words[0]["text"] == "fi"


# -- table stages (table.rs snap/join/intersection tests) ------------------------

def _edge(x0, top, x1, bottom, o):
    return {"x0": x0, "top": top, "x1": x1, "bottom": bottom,
            "orientation": o, "source": "line"}


def test_snap_edges_to_cluster_mean():
    edges = [_edge(0, 10, 100, 10, "h"), _edge(0, 12, 100, 12, "h")]
    out = snap_edges(edges, 3.0, 3.0)
    assert all(abs(e["top"] - 11.0) < 1e-9 for e in out)


def test_snap_edges_outside_tolerance():
    edges = [_edge(0, 10, 100, 10, "h"), _edge(0, 20, 100, 20, "h")]
    out = snap_edges(edges, 3.0, 3.0)
    assert sorted(e["top"] for e in out) == [10.0, 20.0]


def test_join_collinear_edges():
    edges = [_edge(0, 10, 50, 10, "h"), _edge(52, 10, 100, 10, "h")]
    out = join_edge_group(edges, "h", 3.0)
    assert len(out) == 1 and out[0]["x0"] == 0 and out[0]["x1"] == 100


def test_join_gap_too_large():
    edges = [_edge(0, 10, 50, 10, "h"), _edge(60, 10, 100, 10, "h")]
    out = join_edge_group(edges, "h", 3.0)
    assert len(out) == 2


def test_grid_3x3_gives_4_cells():
    edges = []
    for y in (0, 10, 20):
        edges.append(_edge(0, y, 20, y, "h"))
    for x in (0, 10, 20):
        edges.append(_edge(x, 0, x, 20, "v"))
    merged = merge_edges(edges, 3, 3, 3, 3)
    inter = edges_to_intersections(merged, 3, 3)
    assert len(inter) == 9
    cells = intersections_to_cells(inter)
    assert len(cells) == 4
    tables = cells_to_tables(cells)
    assert len(tables) == 1 and len(tables[0]) == 4


def test_merged_cell_stays_merged_and_rows_pad():
    """Vertical merge: left column has no middle rule — smallest-rect
    search yields a tall cell; rows pad the missing slot with None."""
    edges = [
        _edge(0, 0, 20, 0, "h"),
        _edge(10, 10, 20, 10, "h"),  # middle rule only on the right half
        _edge(0, 20, 20, 20, "h"),
        _edge(0, 0, 0, 20, "v"),
        _edge(10, 0, 10, 20, "v"),
        _edge(20, 0, 20, 20, "v"),
    ]
    merged = merge_edges(edges, 3, 3, 3, 3)
    inter = edges_to_intersections(merged, 3, 3)
    cells = intersections_to_cells(inter)
    assert (0.0, 0.0, 10.0, 20.0) in cells  # tall merged cell
    rows = table_rows(cells)
    assert len(rows) == 2
    assert rows[1][0] is None  # padded slot under the merged cell


def test_lattice_end_to_end():
    res = extract_document(pdfgen.fixture_lattice(3, 3))
    tables = res["pages"][0]["tables"]
    assert len(tables) == 1
    texts = [[c["text"] for c in row] for row in tables[0]["rows"]]
    assert texts[0] == ["R0C0", "R0C1", "R0C2"]
    assert texts[2] == ["R2C0", "R2C1", "R2C2"]


def test_stream_strategy_detects_borderless():
    res = extract_document(pdfgen.fixture_stream(6, 3))
    page_chars = res["pages"][0]["chars"]
    words = res["pages"][0]["words"]
    assert page_chars and words
    doc = Document(pdfgen.fixture_stream(6, 3))
    page = doc.page(0)
    tables = page.find_tables(TableSettings(strategy="stream"))
    assert tables, "stream strategy must find the aligned grid"
    assert tables[0]["rows"][0][0]["text"] == "Data-0-0"
    # default lattice finds nothing on a borderless page
    assert page.find_tables(TableSettings()) == []


@pytest.mark.parametrize("strategy", [
    "lattice", "lattice_strict", "stream", "explicit"])
def test_table_debug_counts_the_tables_find_tables_finds(strategy):
    pdf = (pdfgen.fixture_stream(5, 3) if strategy in ("stream", "explicit")
           else pdfgen.fixture_lattice(3, 3))
    page = Document(pdf).page(0)
    settings = TableSettings(strategy=strategy, explicit_lines=ExplicitLines(
        horizontal_lines=[70, 86, 102, 118, 134, 150],
        vertical_lines=[70, 170, 270, 370]))
    edges, words = page.edges(), page.extract_words()
    found = find_tables(edges, words, page.char_columns, settings)
    assert len(found) == 1
    assert table_debug(edges, words, settings)["n_tables"] == len(found)


@pytest.mark.parametrize("strategy", ["lattice", "stream"])
def test_table_debug_extracts_words_only_for_stream(monkeypatch, strategy):
    from pdfplumber_rs_spark.kernel.page import Page
    from pdfplumber_rs_spark.pipeline import _table_debug_rows

    pdf = pdfgen.fixture_multipage(3, 4)
    settings = TableSettings(strategy=strategy)
    want = []
    for i in range(3):
        page = Document(pdf).page(i)
        want.append(table_debug(page.edges(), page.extract_words(), settings))
    calls = []
    extract = Page.extract_words
    monkeypatch.setattr(Page, "extract_words",
                        lambda self, *a: calls.append(1) or extract(self, *a))
    rows = list(_table_debug_rows("u", pdf, settings=settings))
    assert [{k: r[k] for k in want[0]} for r in rows] == want
    assert len(calls) == (3 if strategy == "stream" else 0)


def test_stream_table_pages_extract_words_once(monkeypatch):
    """A page row's text and its stream table detection read one word
    extraction (the default options) between them."""
    from pdfplumber_rs_spark.kernel.page import Page
    from pdfplumber_rs_spark.pipeline import _page_rows

    calls = []
    extract = Page.extract_words
    monkeypatch.setattr(Page, "extract_words",
                        lambda self, *a: calls.append(1) or extract(self, *a))
    rows = _page_rows("u", pdfgen.fixture_multipage(20, 40),
                      table_settings=TableSettings(strategy="stream"))
    assert len(rows) == 20 and all(r["error"] is None for r in rows)
    assert len(calls) == 20


def test_page_extras_walk_annots_once(monkeypatch):
    from pdfplumber_rs_spark.kernel import docextras

    pdf = pdfgen.build_pdf(
        [pdfgen.text_page_content(["linked"])],
        page_annots=["<< /Type /Annot /Subtype /Link /Rect [72 700 200 720]"
                     " /A << /S /URI /URI (https://example.com/) >> >>"
                     " << /Type /Annot /Subtype /Text /Rect [40 600 60 620]"
                     " /Contents (note) >>"])
    walks = []
    walk = docextras.page_annotations
    monkeypatch.setattr(docextras, "page_annotations",
                        lambda *a: walks.append(1) or walk(*a))
    page = Document(pdf).page(0)
    assert [a["raw_subtype"] for a in page.annotations] == ["Link", "Text"]
    assert page.hyperlinks == [{"x0": 72.0, "top": 72.0, "x1": 200.0,
                                "bottom": 92.0, "uri": "https://example.com/"}]
    assert len(walks) == 1


# -- filters / options ------------------------------------------------------------

def test_dedupe_chars_default_tolerance():
    pdf = pdfgen.build_pdf(
        [b"BT /F2 10 Tf 72 720 Td (A) Tj ET BT /F2 10 Tf 72.5 720.2 Td (A) Tj ET"]
    )
    res = extract_document(pdf, ExtractOptions(dedupe=DedupeOptions()))
    assert len(res["pages"][0]["chars"]) == 1
    res2 = extract_document(pdf, ExtractOptions(dedupe=None))
    assert len(res2["pages"][0]["chars"]) == 2


def test_crop_and_within_bbox():
    doc = Document(pdfgen.fixture_text(10))
    page = doc.page(0)
    n_all = len(page.chars)
    cropped = page.crop((0, 0, 612, 80))  # first line only (top≈64)
    assert 0 < len(cropped.chars) < n_all
    assert all(c["top"] >= 0 for c in cropped.chars)


def test_budget_rejects_oversized_input():
    res = extract_document(b"x" * 100, ExtractOptions(max_input_bytes=10))
    assert res["error"]


def test_garbage_inputs_never_raise():
    for bad in (b"", b"garbage", b"%PDF-1.4\nbroken",
                b"%PDF-1.7\n" + b"\x00" * 500):
        res = extract_document(bad)
        assert res["n_pages"] == 0 or res["error"] is None


# -- content decode budget, and warnings where bytes are lost ---------------------

_LINES = [f"line {i} of the page" for i in range(30)]


def _with_content(stream: bytes, filt: bytes) -> bytes:
    """A one-page pdfgen document whose content stream (object 4) is
    `stream` under /Filter `filt`, with the xref rebuilt."""
    import re

    pdf = pdfgen.build_pdf([b""])
    objs = {int(n): body for n, body in
            re.findall(rb"(\d+) 0 obj\n(.*?)\nendobj\n", pdf, re.S)}
    objs[4] = (b"<< /Length %d /Filter %s >>\nstream\n" % (len(stream), filt)
               + stream + b"\nendstream")
    out = bytearray(pdf[:pdf.index(b"1 0 obj\n")])
    offsets = []
    for n in sorted(objs):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % n + objs[n] + b"\nendobj\n"
    xref = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    out += b"".join(b"%010d 00000 n \n" % o for o in offsets)
    trailer = pdf[pdf.rindex(b"trailer\n"):pdf.rindex(b"startxref\n")]
    return bytes(out + trailer + b"startxref\n%d\n%%%%EOF\n" % xref)


def _stream(data: bytes, *names: str, parms: dict | None = None) -> Stream:
    d = {"Filter": [Name(f) for f in names]}
    if parms:
        d["DecodeParms"] = parms
    return Stream(d, data)


def _decode(*streams: Stream) -> tuple[bytes, list[str]]:
    """decode_content over `streams`, for a document with no references."""
    doc = SimpleNamespace(resolve=lambda o: o, warnings=[])
    return decode_content(doc, list(streams)), doc.warnings


def _budget_warnings(warnings):
    return [w for w in warnings if w.startswith("content budget:")]


def _bomb_content(n_bytes: int) -> bytes:
    return pdfgen.text_page_content(_LINES) + b"\n%" + b"B" * n_bytes + b"\n"


@pytest.fixture
def small_budget(monkeypatch):
    monkeypatch.setattr(filters, "MAX_CONTENT_BYTES", 1 << 20)
    return 1 << 20


def test_bomb_page_keeps_its_text_and_warns_once(small_budget):
    pdf = _with_content(zlib.compress(_bomb_content(6 * small_budget)),
                        b"/FlateDecode")
    doc = Document(pdf)
    text = doc.page(0).extract_text()
    plain = Document(pdfgen.build_pdf([pdfgen.text_page_content(_LINES)]))
    assert text == plain.page(0).extract_text()
    assert "line 29 of the page" in text
    assert doc.warnings == [
        f"content budget: decoded content cut at {small_budget} bytes"]


def test_bomb_page_peak_memory_stays_near_the_budget(small_budget):
    import tracemalloc

    pdf = _with_content(zlib.compress(_bomb_content(8 * small_budget)),
                        b"/FlateDecode")
    tracemalloc.start()
    try:
        Document(pdf).page(0).extract_text()
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert peak < 3 * small_budget, peak


def test_nested_flate_stops_at_the_budget(small_budget):
    big = b"0 0 m\n" * (small_budget // 2)  # 3 budgets
    data, warnings = _decode(_stream(zlib.compress(zlib.compress(big, 9), 9),
                                     "FlateDecode", "FlateDecode"))
    assert data == big[:small_budget]
    assert len(_budget_warnings(warnings)) == 1 and len(warnings) == 1


def _lzw_runs(n_codes: int) -> tuple[bytes, int]:
    """An LZW stream whose k-th code repeats "A" k + 1 times: the codes
    65, 258, 259, ... each name the entry the decoder is about to add.
    Returns the stream and its decoded length."""
    acc = bits = 0
    out = bytearray()
    table_len, code_len = 258, 9
    for i, code in enumerate([65] + list(range(258, 258 + n_codes))):
        acc = (acc << code_len) | code
        bits += code_len
        while bits >= 8:
            bits -= 8
            out.append((acc >> bits) & 0xFF)
        table_len += i > 0
        if table_len + 1 >= (1 << code_len) and code_len < 12:
            code_len += 1
    if bits:
        out.append((acc << (8 - bits)) & 0xFF)
    return bytes(out), sum(range(1, n_codes + 2))


def test_expanding_filters_stop_at_the_budget(small_budget):
    # RunLength: each 2-byte pair (length byte 129, value) makes 128 bytes
    rl = b"\x81A" * (small_budget // 32)  # 4 budgets
    assert len(filters.run_length_decode(rl, NO_CAP)) == 4 * small_budget
    assert filters.run_length_decode(rl, 1000) == b"A" * 1000
    data, warnings = _decode(_stream(rl, "RunLengthDecode"))
    assert data == b"A" * small_budget and len(_budget_warnings(warnings)) == 1

    lzw, n = _lzw_runs(3000)
    assert n > 4 * small_budget
    assert filters.lzw_decode(lzw, NO_CAP) == b"A" * n
    assert filters.lzw_decode(lzw, 1000) == b"A" * 1000
    data, warnings = _decode(_stream(lzw, "LZWDecode"))
    assert data == b"A" * small_budget and len(_budget_warnings(warnings)) == 1

    # PNG predictor: a row wider than the cap is clipped, not allocated
    assert filters._apply_png_predictor(b"\x02abc", 1, 8, 1 << 40, 1000) \
        == b"abc" + bytes(997)
    # the cut is seen before the predictor shrinks the rows
    rows = (b"\x00" + b"p" * 99) * (small_budget // 25)  # 4 budgets
    data, warnings = _decode(_stream(
        zlib.compress(rows), "FlateDecode",
        parms={"Predictor": 12, "Columns": 99}))
    # the row the cut shortened is zero-padded, as a short last row
    # always was; NUL is whitespace to the tokenizer
    kept = data.rstrip(b"\x00")
    assert set(kept) == {ord("p")} and len(data) - len(kept) < 99
    assert len(_budget_warnings(warnings)) == 1


def test_content_parts_share_one_budget(small_budget):
    half = b"x" * (small_budget // 2)
    part = _stream(zlib.compress(half), "FlateDecode")
    data, warnings = _decode(part, part, part)
    assert data == b"\n".join([half, half, b""])  # third cut to b""
    assert len(_budget_warnings(warnings)) == 1
    assert _decode(part, part) == (half + b"\n" + half, [])


def test_unfiltered_content_is_kept_whole(small_budget):
    # a part with no filter is the file's own bytes: not cut, not counted
    raw = Stream({}, b"x" * (2 * small_budget))
    half = b"y" * (small_budget // 2)
    part = _stream(zlib.compress(half), "FlateDecode")
    assert _decode(raw, part, part) == (b"\n".join([raw.raw, half, half]), [])


def test_flate_cut_in_half_keeps_a_prefix_and_warns():
    content = pdfgen.text_page_content(_LINES)
    z = zlib.compress(content)
    warnings: list[str] = []
    assert filters.flate_decode(z, NO_CAP, warnings) == content
    assert warnings == []
    half = filters.flate_decode(z[:len(z) // 2], NO_CAP, warnings)
    assert content.startswith(half) and len(half) < len(content)
    assert warnings == [FLATE_PARTIAL_WARNING]
    # and through a document: the row carries the warning
    res = extract_document(_with_content(z[:len(z) // 2], b"/FlateDecode"))
    assert res["error"] is None and FLATE_PARTIAL_WARNING in res["warnings"]


def test_stream_cut_before_endstream_keeps_lines():
    pdf = pdfgen.build_pdf([pdfgen.text_page_content(_LINES)])
    lo = pdf.index(b"stream\n") + len(b"stream\n")
    cut = lo + (pdf.index(b"endstream") - lo) // 2
    # the lines whose Tj lies wholly before the cut
    k = max(i for i in range(len(_LINES) + 1)
            if len(pdfgen.text_page_content(_LINES[:i])) - len(b"\nET")
            <= cut - lo)
    assert 0 < k < len(_LINES)
    res = extract_document(pdf[:cut])
    assert res["error"] is None
    assert res["text"].split("\n")[:k] == _LINES[:k]
    whole = extract_document(pdf)
    assert whole["warnings"] == [] and whole["text"].split("\n") == _LINES


def test_multipage_doctop():
    res = extract_document(pdfgen.fixture_multipage(3, 5))
    p1, p2 = res["pages"][0], res["pages"][1]
    c1, c2 = p1["chars"][0], p2["chars"][0]
    assert abs((c2["doctop"] - c2["top"]) - 792.0) < 1e-9
    assert abs(c1["doctop"] - c1["top"]) < 1e-9


# -- document-level extractors (D1-D5, S9) ---------------------------------------

def test_metadata_bookmarks_fields_multipage():
    from pdfplumber_rs_spark.kernel.document import Document

    text = "\n".join(f"line {i}" for i in range(100))  # 3 pages @48/page
    pdf = pdfgen.pdf_from_text(
        text, info={"Title": "T", "Author": "A"},
        bookmarks_per_page="Section {p}",
        form_fields=[{"name": "f1", "value": "v1", "page": 1}],
    )
    doc = Document(pdf)
    assert doc.page_count == 3
    assert doc.metadata()["Title"] == "T"
    bms = doc.bookmarks()
    assert [b["title"] for b in bms] == ["Section 1", "Section 2", "Section 3"]
    assert [b["page_number"] for b in bms] == [0, 1, 2]
    fields = doc.form_fields()
    assert fields == [{
        "name": "f1", "field_type": "Tx", "value": "v1", "page_number": 1,
        "x0": 400.0, "top": 722.0, "x1": 500.0, "bottom": 742.0,
    }]


def test_inline_image_bbox_and_mcid():
    from pdfplumber_rs_spark.kernel.document import Document
    from pdfplumber_rs_spark.sources.pdfgen import inline_image_content

    pdf = pdfgen.pdf_from_text(
        "abc\n\nxy 9", mcid=True,
        page1_extra=inline_image_content(100.0, 200.0, 50.0, 25.0),
    )
    page = Document(pdf).page(0)
    assert page.images == [{
        "name": "inline-0",
        "x0": 100.0, "top": 792.0 - 225.0, "x1": 150.0, "bottom": 792.0 - 200.0,
        "src_width": 2, "src_height": 2, "colorspace": "DeviceGray",
        "filter": "ASCIIHexDecode", "bits_per_component": 8, "inline": True,
        "data": bytes((0x11, 0x22, 0x33, 0x44)),  # decoded AHx payload
    }]
    # mcid 0 on 'abc' chars, mcid 2 on 'xy 9'; the empty line emits none
    mcids = {c["mcid"] for c in page.chars}
    assert mcids == {0, 2}
    assert {c["tag"] for c in page.chars} == {"P"}


def test_search_chars_union_bbox():
    from pdfplumber_rs_spark.kernel.document import Document

    page = Document(pdfgen.pdf_from_text("foo 123 bar\nno digits")).page(0)
    hits = page.search(r"[0-9]+")
    assert len(hits) == 1 and hits[0]["text"] == "123"
    span = [c for c in page.chars if c["text"] in "123"]
    assert hits[0]["x0"] == min(c["x0"] for c in span)
    assert hits[0]["x1"] == max(c["x1"] for c in span)


def test_html_render_headings_lists_tables():
    from pdfplumber_rs_spark.kernel.document import Document
    from pdfplumber_rs_spark.kernel.html import document_to_html

    content = b"\n".join([
        pdfgen.text_page_content(["Big Title"], font="F3", size=18.0, y=750.0),
        pdfgen.text_page_content(
            ["body with <tags> & amp", "- item one", "- item two"], y=700.0
        ),
        pdfgen.lattice_table_content(2, 2, top_y=500.0, label="T{r}{c}"),
    ])
    pdf = pdfgen.build_pdf(
        [content],
        fonts={"F1": "Helvetica", "F2": "Courier", "F3": "Helvetica-Bold"},
    )
    html = document_to_html(Document(pdf))
    assert html.splitlines() == [
        "<h1><strong>Big Title</strong></h1>",
        "<p>body with &lt;tags&gt; &amp; amp</p>",
        "<ul>",
        "<li>item one</li>",
        "<li>item two</li>",
        "</ul>",
        "<table><tr><td>T00</td><td>T01</td></tr>"
        "<tr><td>T10</td><td>T11</td></tr></table>",
    ]


def test_encrypted_pdf_password_paths():
    from pdfplumber_rs_spark.config import ExtractOptions
    from pdfplumber_rs_spark.kernel.document import Document
    from pdfplumber_rs_spark.sources.pdfgen import encrypt_pdf

    plain = pdfgen.pdf_from_text("secret text 42\nline two")
    enc = encrypt_pdf(plain, "hunter2", "ownerpw")
    expected = "secret text 42\nline two"
    assert Document(enc, ExtractOptions(password="hunter2")).page(0) \
        .extract_text() == expected                    # user password
    assert Document(enc, ExtractOptions(password="ownerpw")).page(0) \
        .extract_text() == expected                    # owner (Alg 3.7)
    wrong = Document(enc, ExtractOptions(password="nope"))
    assert any("did not validate" in w for w in wrong.warnings)
    # empty-password auto-decrypt still works on files encrypted with
    # an empty user password
    enc_empty = encrypt_pdf(plain, "", "owner-only")
    assert Document(enc_empty).page(0).extract_text() == expected


def test_signatures_and_validation():
    from pdfplumber_rs_spark.kernel.document import Document

    pdf = pdfgen.pdf_from_text("signed doc", form_fields=[
        {"name": "Sig1", "ftype": "Sig",
         "raw_value": "<< /Type /Sig /Name (Alice Example) "
                      "/M (D:20240101120000Z) /Reason (Approval) "
                      "/Location (Berlin) /ByteRange [0 1 2 3] >>"},
    ])
    d = Document(pdf)
    assert d.signatures() == [{
        "name": "Sig1", "signer": "Alice Example",
        "sign_date": "D:20240101120000Z", "reason": "Approval",
        "location": "Berlin", "has_byte_range": True, "page_number": 0,
    }]
    assert d.validate() == []

    import re
    broken = re.sub(rb"startxref\n\d+", b"startxref\n999999", pdf)
    codes = {v["code"] for v in Document(broken).validate()}
    assert "repaired-xref" in codes


def test_aes256_r6_password_validation():
    """R6 (AES-256) Algorithms 11/12: user path, owner path, and wrong
    password → valid=False (ADVICE round 1: the old code never validated
    and the owner branch was unreachable)."""
    from pdfplumber_rs_spark.kernel.crypt import (
        Decryptor,
        _aes_cbc_encrypt_nopad,
        _aes_cbc_nopad_zero_iv,
        _hash_2b,
    )
    from pdfplumber_rs_spark.kernel.objects import Name

    file_key = bytes(range(32))
    upw, opw = b"u-pass", b"o-pass"
    u_vsalt, u_ksalt = b"UVSALT!!", b"UKSALT!!"
    o_vsalt, o_ksalt = b"OVSALT!!", b"OKSALT!!"
    u = _hash_2b(upw, u_vsalt, b"") + u_vsalt + u_ksalt
    ue = _aes_cbc_encrypt_nopad(
        _hash_2b(upw, u_ksalt, b""), b"\x00" * 16, file_key)
    o = _hash_2b(opw, o_vsalt, u[:48]) + o_vsalt + o_ksalt
    oe = _aes_cbc_encrypt_nopad(
        _hash_2b(opw, o_ksalt, u[:48]), b"\x00" * 16, file_key)
    enc = {"Filter": Name("Standard"), "V": 5, "R": 6, "Length": 256,
           "O": o, "U": u, "UE": ue, "OE": oe, "P": -4}
    ident = lambda x: x  # noqa: E731

    d_user = Decryptor(enc, b"", ident, upw)
    assert d_user.ok and d_user.valid and d_user.key == file_key
    d_owner = Decryptor(enc, b"", ident, opw)
    assert d_owner.ok and d_owner.valid and d_owner.key == file_key
    d_wrong = Decryptor(enc, b"", ident, b"nope")
    assert not d_wrong.valid and d_wrong.key != file_key
    # round-trip sanity: encrypt-nopad + decrypt-nopad are inverses
    assert _aes_cbc_nopad_zero_iv(
        _hash_2b(upw, u_ksalt, b""), ue) == file_key


def test_nested_sig_field_pairing():
    """A /Sig field whose /V lives on a /Kids child (FT inherited from
    the parent) must still pair its signature dict correctly (ADVICE
    round 1: the old index-matched top-level re-walk only saw direct
    FT==Sig fields and left signer/date/reason unpaired)."""
    from pdfplumber_rs_spark.kernel.docextras import signatures

    class FakeDoc:
        def __init__(self, objects, trailer):
            self.objects, self.trailer = objects, trailer

        def resolve(self, o):
            while isinstance(o, Ref):
                o = self.objects[(o.num, o.gen)]
            return o

    sig_v = {"Type": Name("Sig"), "Name": b"Carol",
             "M": b"D:20250101000000Z", "Reason": b"Audit",
             "ByteRange": [0, 1, 2, 3]}
    kid = {"T": b"Kid", "V": sig_v}
    parent = {"T": b"Parent", "FT": Name("Sig"), "Kids": [Ref(10, 0)]}
    objects = {(10, 0): kid, (11, 0): parent}
    trailer = {"Root": {"AcroForm": {"Fields": [Ref(11, 0)]}}}
    sigs = signatures(FakeDoc(objects, trailer))
    assert len(sigs) == 1
    assert sigs[0]["name"] == "Parent.Kid"
    assert sigs[0]["signer"] == "Carol"
    assert sigs[0]["reason"] == "Audit"
    assert sigs[0]["has_byte_range"] is True


def test_embedded_truetype_widths():
    """/FontFile2 hmtx fallback when /Widths is absent
    (font_metrics.rs:185-204, truetype.rs:160-210): glyph id == char
    code, widths scaled to 1000/em."""
    from pdfplumber_rs_spark.kernel.document import Document
    from pdfplumber_rs_spark.kernel.fonts.truetype import parse_truetype_widths

    # upem 2048 exercises scaling; code c advance = 1024 + (c % 3) * 512
    advances = [1024 + (c % 3) * 512 for c in range(256)]
    ttf = pdfgen.build_truetype_font(advances, units_per_em=2048)
    w = parse_truetype_widths(ttf)
    assert len(w) == 256
    assert abs(w[65] - advances[65] * 1000 / 2048) < 1e-9

    pdf = pdfgen.build_pdf(
        [pdfgen.text_page_content(["AB AB"], font="FE", size=10.0)],
        fonts={"FE": {"base": "TestTT", "subtype": "TrueType",
                      "program": ttf, "program_key": "FontFile2"}},
    )
    page = Document(pdf).page(0)
    chars = [c for c in page.chars if c["text"] != " "]
    # char width in device space = advance/2048 * 10
    for c in chars:
        code = c["char_code"]
        exp = advances[code] / 2048.0 * 10.0
        assert abs((c["x1"] - c["x0"]) - exp) < 1e-6, (c["text"], c["x1"] - c["x0"], exp)
    assert page.extract_text() == "AB AB"


def test_embedded_cff_widths():
    """/FontFile3 Type1C charstring-width fallback (cff.rs:38-99,
    453-566): leading width operand + nominal/default width rules."""
    from pdfplumber_rs_spark.kernel.document import Document
    from pdfplumber_rs_spark.kernel.fonts.cff import parse_cff_widths

    widths = [400.0 + (c % 5) * 100 for c in range(256)]
    widths[66] = 250.0  # 'B' takes defaultWidthX (no charstring operand)
    cff = pdfgen.build_cff_font(widths, default_width=250.0,
                                nominal_width=107.0)
    w = parse_cff_widths(cff)
    assert len(w) == 256
    assert w[66] == 250.0
    assert abs(w[65] - widths[65]) < 1e-9

    pdf = pdfgen.build_pdf(
        [pdfgen.text_page_content(["AB"], font="FC", size=10.0)],
        fonts={"FC": {"base": "TestCFF", "subtype": "Type1",
                      "program": cff, "program_key": "FontFile3",
                      "file_subtype": "Type1C"}},
    )
    page = Document(pdf).page(0)
    byc = {c["char_code"]: c for c in page.chars}
    assert abs((byc[65]["x1"] - byc[65]["x0"]) - widths[65] / 100.0) < 1e-6
    assert abs((byc[66]["x1"] - byc[66]["x0"]) - 2.5) < 1e-6


def _merged_header_pdf():
    """3-col grid whose top row has NO internal vertical rules (a merged
    header) + a data row; header text spans, data cells are A/B/C."""
    parts = [b"0.5 w"]
    x0, x1 = 72.0, 372.0
    for y in (720.0, 700.0, 680.0):
        parts.append(f"{x0:g} {y:g} m {x1:g} {y:g} l S".encode())
    # outer verticals full height; inner verticals bottom row only
    for x in (72.0, 372.0):
        parts.append(f"{x:g} 680 m {x:g} 720 l S".encode())
    for x in (172.0, 272.0):
        parts.append(f"{x:g} 680 m {x:g} 700 l S".encode())
    parts.append(b"BT /F1 8 Tf 80 706 Td (HDR) Tj ET")
    for i, (x, s) in enumerate(((80, "A"), (180, "B"), (280, "C"))):
        parts.append(f"BT /F1 8 Tf {x} 686 Td ({s}) Tj ET".encode())
    return pdfgen.build_pdf([b"\n".join(parts)])


def test_merged_header_default_keeps_merged():
    res = extract_document(_merged_header_pdf())
    rows = [
        [None if c is None else c["text"] for c in r]
        for r in res["pages"][0]["tables"][0]["rows"]
    ]
    assert rows == [["HDR", None, None], ["A", "B", "C"]]


def test_duplicate_merged_content():
    """T12 (table.rs:810-899): merged header text duplicated into every
    grid sub-cell."""
    res = extract_document(
        _merged_header_pdf(),
        table_settings=TableSettings(duplicate_merged_content=True),
    )
    rows = [
        [None if c is None else c["text"] for c in r]
        for r in res["pages"][0]["tables"][0]["rows"]
    ]
    assert rows == [["HDR", "HDR", "HDR"], ["A", "B", "C"]]


def test_extract_tables_gives_none_for_merged_slots():
    """Page.extract_tables keeps pdfplumber's shape: cell text per slot,
    None where a merged cell covers it."""
    merged = Document(_merged_header_pdf()).page(0)
    assert merged.extract_tables() == [[["HDR", None, None],
                                         ["A", "B", "C"]]]
    grid = Document(pdfgen.fixture_lattice(3, 3)).page(0)
    assert grid.extract_tables() == [[[f"R{r}C{c}" for c in range(3)]
                                      for r in range(3)]]


def test_cid_vertical_metrics_w2_dw2_vmtx():
    """W2/DW2 vertical metrics (cid_font.rs:227-262, PDF 9.7.4.3) and
    the vmtx fallback via CIDToGIDMap when /W2 is absent."""
    from pdfplumber_rs_spark.kernel.fonts.font import load_font
    from pdfplumber_rs_spark.kernel.objects import Stream

    class FakeDoc:
        def resolve(self, o):
            return o

    doc = FakeDoc()
    desc_font = {
        "Subtype": Name("CIDFontType2"),
        "DW": 1000, "W": [5, [500.0]],
        "DW2": [900, -1100],
        "W2": [10, [-800.0, 250.0, 880.0], 20, 22, -700, 300, 850],
    }
    font_dict = {
        "Subtype": Name("Type0"), "BaseFont": Name("VertFont"),
        "Encoding": Name("Identity-V"),
        "DescendantFonts": [desc_font],
    }
    f = load_font(doc, font_dict)
    assert f.writing_mode == 1
    assert f.get_vertical_metric(10) == (-800.0, 250.0, 880.0)
    assert f.get_vertical_metric(21) == (-700.0, 300.0, 850.0)
    # default: DW2 w1y/vy, vx = constant half-em (pdfminer parity:
    # LTChar vertical uses fontsize*0.5 when /W2 gives no vector)
    assert f.get_vertical_metric(5) == (-1100.0, 500.0, 900.0)
    assert f.get_vertical_metric(99) == (-1100.0, 500.0, 900.0)

    # vmtx fallback: vertical TrueType with vhea/vmtx, CIDToGIDMap stream
    import struct as _s

    n = 4
    heights = [1000, 1200, 800, 600]
    head = _s.pack(">IIIIHHqqhhhhHHhhh", 0x00010000, 0, 0, 0x5F0F3CF5,
                   0, 1000, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
    vhea = _s.pack(">IhhhHhhhhhhhhhhhH", 0x00010000, 0, 0, 0, 0, 0, 0,
                   0, 0, 0, 0, 0, 0, 0, 0, 0, n)
    maxp = _s.pack(">IH", 0x00005000, n)
    vmtx = b"".join(_s.pack(">Hh", h, 0) for h in heights)
    tables = [(b"head", head), (b"maxp", maxp), (b"vhea", vhea),
              (b"vmtx", vmtx)]
    out = bytearray(_s.pack(">IHHHH", 0x00010000, len(tables), 0, 0, 0))
    body = bytearray()
    off = 12 + len(tables) * 16
    for tag, data in tables:
        out += _s.pack(">4sIII", tag, 0, off, len(data))
        body += data
        off += len(data)
    ttf = bytes(out) + bytes(body)
    # CIDToGIDMap: cid0->gid1, cid1->gid0, cid2->gid3, cid3->gid2
    c2g = _s.pack(">HHHH", 1, 0, 3, 2)
    desc_font2 = {
        "Subtype": Name("CIDFontType2"), "DW": 1000,
        "FontDescriptor": {"FontFile2": Stream({}, ttf)},
        "CIDToGIDMap": Stream({}, c2g),
    }
    font_dict2 = {
        "Subtype": Name("Type0"), "BaseFont": Name("VertTT"),
        "Encoding": Name("Identity-V"),
        "DescendantFonts": [desc_font2],
    }
    f2 = load_font(doc, font_dict2)
    assert f2.get_vertical_metric(0)[0] == -1200.0  # cid0 -> gid1
    assert f2.get_vertical_metric(1)[0] == -1000.0  # cid1 -> gid0
    assert f2.get_vertical_metric(2)[0] == -600.0   # cid2 -> gid3


def test_colorspace_resolution():
    """ICCBased / Indexed / Separation / DeviceN resolution and SC/SCN
    interpretation through them (color_space.rs:66-360)."""
    from pdfplumber_rs_spark.kernel.colorspace import (
        resolve_color,
        resolve_colorspace,
    )
    from pdfplumber_rs_spark.kernel.objects import Stream

    class FakeDoc:
        def resolve(self, o):
            return o

    doc = FakeDoc()
    icc = resolve_colorspace(
        doc, [Name("ICCBased"), Stream({"N": 3}, b"")])
    assert icc.family == "iccbased" and icc.ncomp == 3
    assert resolve_color(icc, [0.1, 0.2, 0.3]) == ("rgb", [0.1, 0.2, 0.3])

    idx = resolve_colorspace(
        doc, [Name("Indexed"), Name("DeviceRGB"), 1,
              bytes([255, 0, 0, 0, 0, 255])])
    assert idx.family == "indexed"
    assert resolve_color(idx, [0]) == ("rgb", [1.0, 0.0, 0.0])
    assert resolve_color(idx, [1]) == ("rgb", [0.0, 0.0, 1.0])
    assert resolve_color(idx, [9]) == ("rgb", [0.0, 0.0, 1.0])  # clamped

    sep = resolve_colorspace(
        doc, [Name("Separation"), Name("Spot1"), Name("DeviceCMYK"), None])
    assert sep.family == "separation"
    assert resolve_color(sep, [0.25]) == ("cmyk", [0.0, 0.0, 0.0, 0.75])

    dn = resolve_colorspace(
        doc, [Name("DeviceN"), [Name("A"), Name("B"), Name("C")],
              Name("DeviceRGB"), None])
    assert dn.ncomp == 3
    assert resolve_color(dn, [0.5, 0.6, 0.7]) == ("rgb", [0.5, 0.6, 0.7])

    # fallback by component count when no CS was set
    assert resolve_color(None, [0.5]) == ("gray", [0.5])
    assert resolve_color(None, [1, 2, 3, 4.0]) == ("cmyk", [1, 2, 3, 4.0])


def test_scn_through_named_colorspace():
    """cs /Name + scn in a content stream resolves through /Resources
    /ColorSpace (end-to-end through the interpreter)."""
    from pdfplumber_rs_spark.kernel.document import Document

    # build a PDF with an ICCBased-ish colorspace... the simple builder
    # has no /ColorSpace resources, so use a DeviceCMYK name which needs
    # no resource entry
    pdf = pdfgen.build_pdf([
        b"/DeviceCMYK cs 0.1 0.2 0.3 0.4 scn\n"
        b"BT /F1 10 Tf 72 720 Td (X) Tj ET"
    ])
    ch = Document(pdf).page(0).chars[0]
    assert ch["non_stroking_color"] == ("cmyk", [0.1, 0.2, 0.3, 0.4])
