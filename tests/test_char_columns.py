"""Pins and guards for the per-page char columns.

The branch pins hash `page.chars`, `extract_words` (every field but
`chars`) and `extract_text` on pages that take the less common paths of
the char pipeline: rotated pages, rotated and mirrored text, overlapping
duplicate text (the dedupe exact pass), vertical and right-to-left
scripts, switched-off normalisation and dedupe, the sequential word
paths, the spatial filters and search. They were generated before the
page path stopped building a dict per glyph, so they hold its output
byte-identical.
"""

from __future__ import annotations

import gc
import random
import hashlib
import weakref

import pytest

from pdfplumber_rs_spark import pipeline as P
from pdfplumber_rs_spark.config import ExtractOptions, WordOptions
from pdfplumber_rs_spark.kernel import chars as kchars
from pdfplumber_rs_spark.kernel.document import Document
from pdfplumber_rs_spark.kernel.html import page_to_html
from pdfplumber_rs_spark.kernel.markdown import page_to_markdown
from pdfplumber_rs_spark.kernel.svg import page_to_svg
from pdfplumber_rs_spark.sources import pdfgen

LINES = [f"Row {i}: the quick brown fox jumps over {i * 7} lazy dogs"
         for i in range(6)]


def _rotated_pages() -> bytes:
    return pdfgen.build_pdf(
        [pdfgen.text_page_content(LINES) for _ in range(4)],
        page_rotations=[0, 90, 180, 270])


def _turned_text() -> bytes:
    # Tm-rotated (non-upright) columns, a mirrored (negative Tz) run and
    # upright text around them, in one stream
    return pdfgen.build_pdf([
        pdfgen.text_page_content(LINES[:3])
        + b"\nBT /F1 11 Tf 0 1 -1 0 400 300 Tm (Rotated column text) Tj ET"
        + b"\nBT /F1 11 Tf 0 -1 1 0 450 500 Tm (Downward text runs) Tj ET"
        + b"\nBT /F2 10 Tf -100 Tz 300 200 Td (Mirrored words here) Tj ET"
        + b"\n" + pdfgen.text_page_content(LINES[3:], y=150.0)])


def _doubled_text() -> bytes:
    # the same block drawn twice 0.4 pt apart: every glyph is a dedupe
    # candidate, so the exact pass runs
    return pdfgen.build_pdf([
        pdfgen.text_page_content(LINES) + b"\n"
        + pdfgen.text_page_content(LINES, x=72.4, y=720.4)])


def _doubled_across_cells() -> bytes:
    # 0.4 pt apart again, but straddling whole-point grid lines, so the
    # copies fall in neighbouring dedupe cells
    return pdfgen.build_pdf([
        pdfgen.text_page_content(LINES, x=72.8, y=720.3) + b"\n"
        + pdfgen.text_page_content(LINES, x=73.2, y=719.9)])


def _unicode_text() -> bytes:
    # Hebrew (bidi), a ligature (NFKC) and CJK through a UCS-2 CMap font
    return pdfgen.build_pdf(
        [pdfgen.cjk_text_page_content(
            ["שלום עולם abc", "ﬁne ﬂow 中文", "מספר 123 טקסט"] * 8)],
        fonts={"FC": {"base": "CJKGB", "cid_encoding": "UniGB-UCS2-H"}})


def _vertical_text() -> bytes:
    return pdfgen.build_pdf(
        [pdfgen.cid_text_page_content([[843, 850, 861, 870] * 5] * 4)],
        fonts={"FJ": {"base": "CIDJP", "cid_encoding": "Identity-V",
                      "ordering": "Japan1", "cid_subtype": "CIDFontType0"}})


def _words_digest(words: list[dict]) -> list[dict]:
    return [{k: v for k, v in w.items() if k != "chars"} for w in words]


def page_digest(page, word_options: WordOptions | None = None) -> str:
    words = page.extract_words(word_options)
    text = page.extract_text(word_options=word_options)
    blob = repr((page.chars, _words_digest(words), text))
    return hashlib.sha256(blob.encode()).hexdigest()


def _pages(pdf: bytes, options: ExtractOptions | None = None) -> list:
    doc = Document(pdf, options)
    return [doc.page(i) for i in range(doc.page_count)]


def _case_pages(case: str) -> list:
    if case == "rotate":
        return _pages(_rotated_pages())
    if case == "turned":
        return _pages(_turned_text())
    if case == "doubled":
        return _pages(_doubled_text())
    if case == "doubled-raw":
        return _pages(_doubled_text(),
                      ExtractOptions(dedupe=None, unicode_norm=None))
    if case == "doubled-across":
        return _pages(_doubled_across_cells())
    if case == "unicode":
        return _pages(_unicode_text())
    if case == "unicode-nfkc":
        return _pages(_unicode_text(), ExtractOptions(unicode_norm="NFKC"))
    if case == "vertical":
        return _pages(_vertical_text())
    raise KeyError(case)


CASE_PINS = {
    "rotate": "a1c835106cdb1d6743af6d0f483632e657758835cb54cd105aa2668bad519b20",
    "turned": "e09dc0601be67e9a49bdbe58f142325622775f5a3305feae70bdfa4ce482d8a5",
    "doubled": "daecb117f428f84b7d630d608a0e6f612d262d388d2a9e46aa205cf7d33bc9cf",
    "doubled-raw": "039826a8954ab5a9365d5987ce73eb01653a06c3728a5743611d567812edf9f7",
    "doubled-across": "9b1b20d21ade9033f776dad37ba334917e4f8ec48e27bb5d0f009674f4d7ddde",
    "unicode": "85e61ec2a08ced8d78882cca635631defe1a2edc348709fc5a3f5629863c61ea",
    "unicode-nfkc": "e1bdb0895edf9e16d5981c72b9dbc51960957b86356162498cc1f5dd4c441aa4",
    "vertical": "947e4a1716601aa3502699c5a21db9b8cb18480fd1bac22899d01fff2eff1060",
}

WORD_OPTIONS = {
    "rtl": WordOptions(text_direction="rtl"),
    "btt": WordOptions(text_direction="btt"),
    "keep-blank": WordOptions(keep_blank_chars=True),
    "text-flow": WordOptions(use_text_flow=True),
    "no-ligatures": WordOptions(expand_ligatures=False),
}

WORD_OPTION_PINS = {
    "rtl": "d3b15069448fe7c4c5666819c5c512e0a8fe46d706bb72abc201ca921c56bc7f",
    "btt": "7ec64cc2f9a664ab927c96774e460ac16d11b3dd6af8c2ce2509fa674ef725c9",
    "keep-blank": "c56d0f516dac466e923e38457d41cada43b21ccaba3a14e2e867cc8d98bf6092",
    "text-flow": "74d94f9d6f3b48efb49d14b14178465f57497cca71b1983efddff4f3d6e04c89",
    "no-ligatures": "48ff0bd9269f8c6cd386a461f3dd5a115a8cff3499936512db7549f45094e9e9",
}

FILTER_PINS = {
    "crop": "af261ced8abe9fccdb1bc8d1753aeb785afed5de4febf59e9988b87b5524d8c6",
    "within_bbox": "912b736cad0f5e9b692f0eb88a9c554f03e926fdd35cce2281f95b68beb07fdd",
    "outside_bbox": "fc90cb4474355f1c71990007b2a43650957a71266058fee0abdb16f6313fb4b2",
}

SEARCH_PIN = "441ee06043513549b985081fb87de79e9afff1bf8d06e6671c6031fe8976bf71"
RENDER_PIN = "a935d8262f231e86442790a78f66a787c2cd6ee8e5ed3e5e12cb5114635268a4"


def case_digest(case: str) -> str:
    return hashlib.sha256(
        "".join(page_digest(p) for p in _case_pages(case)).encode()
    ).hexdigest()


def word_option_digest(name: str) -> str:
    pages = (_pages(_turned_text()) + _pages(_unicode_text())
             + _pages(_vertical_text()) + _pages(_rotated_pages()))
    return hashlib.sha256("".join(
        page_digest(p, WORD_OPTIONS[name]) for p in pages
    ).encode()).hexdigest()


def filter_digest(method: str) -> str:
    out = []
    for page in _pages(_turned_text()) + _pages(_rotated_pages()):
        for bbox in ((60.0, 50.0, 420.0, 330.0), (0.0, 0.0, 200.0, 800.0),
                     (100.3, 61.0, 250.7, 400.0)):
            out.append(page_digest(getattr(page, method)(bbox)))
    return hashlib.sha256("".join(out).encode()).hexdigest()


def search_digest() -> str:
    out = []
    for page in _pages(_turned_text()) + _pages(_unicode_text()):
        for pattern, regex, case in (("o[a-z]+", True, True),
                                     ("ROW 1", False, False),
                                     ("עולם", False, True)):
            out.append(page.search(pattern, regex, case))
    return hashlib.sha256(repr(out).encode()).hexdigest()


def render_digest() -> str:
    out = []
    for page in (_pages(pdfgen.fixture_complex(1)) + _pages(_turned_text())
                 + _pages(_unicode_text())):
        out.append((page_to_html(page), page_to_markdown(page),
                    page_to_svg(page)))
    return hashlib.sha256(repr(out).encode()).hexdigest()


@pytest.mark.parametrize("case", sorted(CASE_PINS))
def test_case_pins(case):
    assert case_digest(case) == CASE_PINS[case]


@pytest.mark.parametrize("name", sorted(WORD_OPTION_PINS))
def test_word_option_pins(name):
    assert word_option_digest(name) == WORD_OPTION_PINS[name]


@pytest.mark.parametrize("method", sorted(FILTER_PINS))
def test_filter_pins(method):
    assert filter_digest(method) == FILTER_PINS[method]


def test_search_pin():
    assert search_digest() == SEARCH_PIN


def test_render_pin():
    assert render_digest() == RENDER_PIN


# -- the text path builds no per-glyph dicts -------------------------------------

def test_text_only_rows_never_build_char_dicts(monkeypatch):
    def no_dicts(self):
        raise AssertionError("Page.chars materialised on the text path")

    monkeypatch.setattr(kchars.CharColumns, "to_dicts", no_dicts)
    rows = list(P._page_rows("m", pdfgen.fixture_multipage(3, 20),
                             include=()))
    assert [r["error"] for r in rows] == [None] * 3
    assert all(r["n_chars"] > 0 and r["text"] for r in rows)


def test_chars_are_built_once_and_cached():
    page = Document(pdfgen.fixture_text(3)).page(0)
    assert page.chars is page.chars
    assert len(page.chars) == len(page.char_columns)


def test_fired_annotation_thunk_releases_the_document():
    pdf = pdfgen.build_pdf(
        [pdfgen.text_page_content(["linked"])],
        page_annots=["<< /Type /Annot /Subtype /Link /Rect [72 700 200 720]"
                     " /A << /S /URI /URI (https://example.com/) >> >>"])
    doc = Document(pdf)
    page = doc.page(0)
    parsed = weakref.ref(doc.doc)
    assert page.hyperlinks and page.annotations
    del doc
    gc.collect()
    assert parsed() is None


def test_column_dedupe_matches_bruteforce():
    from pdfplumber_rs_spark.kernel.textnorm import dedupe_chars
    from tests.test_property import _brute

    rng = random.Random(7)
    for tol in (0.5, 1.0, 3.0):
        chars = []
        for _ in range(400):
            x0 = round(rng.uniform(0, 60), 1)
            top = round(rng.uniform(0, 40), 1)
            chars.append({
                "text": rng.choice("ab"), "fontname": rng.choice("FG"),
                "size": rng.choice((10.0, 12.0)), "x0": x0, "x1": x0 + 5,
                "top": top, "bottom": top + 10, "doctop": top,
                "upright": True, "direction": "ltr"})
        kept = dedupe_chars(kchars.CharColumns.from_dicts(chars), tol)
        want = _brute(chars, tol)
        assert len(want) < len(chars)
        assert list(zip(kept.text, kept.x0.tolist(), kept.top.tolist())) \
            == [(c["text"], c["x0"], c["top"]) for c in want]
