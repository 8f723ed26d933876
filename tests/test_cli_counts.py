"""Spark-free CLI checks that run without the reference fixtures:
`info` and `debug` count a page's glyphs from its CharColumns, without
building the per-glyph dicts of `Page.chars`."""

from __future__ import annotations

import json

from pdfplumber_rs_spark import cli
from pdfplumber_rs_spark.kernel.chars import CharColumns
from pdfplumber_rs_spark.kernel.document import Document
from pdfplumber_rs_spark.sources import pdfgen


def test_info_and_debug_count_chars_without_glyph_dicts(
        tmp_path, monkeypatch, capsys):
    pdf = pdfgen.fixture_multipage(2, 6)
    path = tmp_path / "doc.pdf"
    path.write_bytes(pdf)
    doc = Document(pdf)
    want = [len(doc.page(i).chars) for i in range(doc.page_count)]
    assert len(want) == 2 and all(want)

    def no_dicts(self):
        raise AssertionError("glyph dicts built just to count them")

    monkeypatch.setattr(CharColumns, "to_dicts", no_dicts)

    assert cli.main(["info", "--format", "json", str(path)]) == 0
    info = json.loads(capsys.readouterr().out)
    assert [p["chars"] for p in info["pages"]] == want

    assert cli.main(["info", str(path)]) == 0
    text = capsys.readouterr().out
    assert [int(line.split(":")[1]) for line in text.splitlines()
            if line.strip().startswith("Chars:")] == want

    assert cli.main(["debug", "--format", "json", str(path)]) == 0
    debug = json.loads(capsys.readouterr().out)
    assert [p["chars"] for p in debug] == want
