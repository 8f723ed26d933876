"""US-099 PDF→Markdown: byte-parity with the reference's anytomd golden
fixtures (/root/reference/tests/anytomd/fixtures/*/expected_markdown.md
+ expected_metadata.json) plus unit coverage of the conversion rules."""

import json
from pathlib import Path

import pytest

from pdfplumber_rs_spark.kernel.markdown import (
    _gfm_table,
    _heading_level,
    markdown_json,
)

FIXTURES = Path("/root/reference/tests/anytomd/fixtures")
NAMES = ["business-report", "technical-doc", "mixed-language"]


@pytest.mark.parametrize("name", NAMES)
def test_fixture_markdown_byte_identical(name):
    base = FIXTURES / name
    if not base.exists():
        pytest.skip("reference fixtures unavailable")
    md, _ = markdown_json((base / "input.pdf").read_bytes())
    assert md == (base / "expected_markdown.md").read_text()


@pytest.mark.parametrize("name", NAMES)
def test_fixture_metadata_matches(name):
    base = FIXTURES / name
    if not base.exists():
        pytest.skip("reference fixtures unavailable")
    _, meta_json = markdown_json((base / "input.pdf").read_bytes())
    assert json.loads(meta_json) == json.loads(
        (base / "expected_metadata.json").read_text())


def test_heading_levels_match_fixture_ratios():
    # technical-doc: 24/12 -> h1, 18/12 -> h3; business-report: 20/12 -> h2
    assert _heading_level(24 / 12) == 1
    assert _heading_level(20 / 12) == 2
    assert _heading_level(18 / 12) == 3
    assert _heading_level(1.0) == 0


def test_gfm_table_shape():
    t = {"rows": [
        [{"text": "a"}, {"text": "b|c"}],
        [{"text": "1"}, None],
    ]}
    md = _gfm_table(t)
    assert md.splitlines() == [
        "| a | b\\|c |",
        "| --- | --- |",
        "| 1 |  |",
    ]


def test_markdown_pipeline_roundtrip(spark, sf_dir):
    from pdfplumber_rs_spark import pipeline as P
    from pdfplumber_rs_spark.sources.corpus import markdown_corpus_table

    corpus = markdown_corpus_table(spark, sf_dir)
    rows = (P.render_markdown(corpus).orderBy("url").limit(2).collect())
    assert rows, "no markdown rows produced"
    for r in rows:
        assert r.markdown.startswith("# Doc ")
        assert "\n\n---\n\n### Doc " in r.markdown
        meta = json.loads(r.meta_json)
        assert meta["page_count"] == 2
        assert meta["warning_count"] == 0
        assert meta["title"].endswith(" Title")


def test_render_markdown_passes_the_password(spark):
    from pdfplumber_rs_spark import pipeline as P
    from pdfplumber_rs_spark.config import ExtractOptions
    from pdfplumber_rs_spark.sources import pdfgen

    enc = pdfgen.encrypt_pdf(pdfgen.pdf_from_text("locked words 7"), "s3cret")
    df = spark.createDataFrame([("u", enc)], "url string, html binary")
    row = P.render_markdown(df, ExtractOptions(password="s3cret")).collect()[0]
    assert row.markdown == "locked words 7"
