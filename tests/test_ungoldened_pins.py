"""Regression pins for every reference fixture PDF that ships with
neither a golden JSON nor a named assertion elsewhere in this suite
(VERDICT r4 "What's missing" #2 / "Next round" #6 — pdfplumber is not
installable in this sandbox, so an independent oracle is impossible).

These values were produced by THIS kernel on the reference snapshot:
they are behavior locks (error state, page count, char volume,
leading text), not parity scores. Any kernel change that moves one of
these numbers must justify itself here. The crash-free whole-corpus
sweep in test_real_world_fixtures.py remains the safety net; this
file upgrades the 49 previously sweep-only files to exact pins.

Sources: crates/pdfplumber/tests/fixtures/pdfs/{oss-fuzz,pdfbox,
pdfjs,poppler}/ and tests/fixtures/{downloaded,generated}/ in
/root/reference (see each pin's relative path).
"""

from pathlib import Path

import pytest

from pdfplumber_rs_spark.kernel.document import extract_document

REF = Path("/root/reference")

# (relative path, error, n_pages, n_chars, leading text)
_PINS = [
    ("crates/pdfplumber/tests/fixtures/pdfs/oss-fuzz/4591020179783680.pdf",
     None, 1, 14,
     "Dummy PDF fi le"),
    ("crates/pdfplumber/tests/fixtures/pdfs/oss-fuzz/4646567755972608.pdf",
     None, 1, 0,
     ""),
    ("crates/pdfplumber/tests/fixtures/pdfs/oss-fuzz/4652594248613888.pdf",
     None, 1, 14,
     "D\x00(cid:3)(cid:3)(cid:4)(cid:5)(cid:6)D(c"),
    ("crates/pdfplumber/tests/fixtures/pdfs/oss-fuzz/4691742750474240.pdf",
     None, 1, 0,
     ""),
    ("crates/pdfplumber/tests/fixtures/pdfs/oss-fuzz/4715311080734720.pdf",
     None, 1, 14,
     "Dummy PDF file"),
    ("crates/pdfplumber/tests/fixtures/pdfs/oss-fuzz/4736668896133120.pdf",
     None, 1, 0,
     ""),
    ("crates/pdfplumber/tests/fixtures/pdfs/oss-fuzz/4833695495684096.pdf",
     None, 2, 43,
     "\nGoodbye Cruel World...\nI\u2019ll be back sho"),
    ("crates/pdfplumber/tests/fixtures/pdfs/oss-fuzz/4927662560968704.pdf",
     None, 1, 0,
     ""),
    ("crates/pdfplumber/tests/fixtures/pdfs/oss-fuzz/5177159198507008.pdf",
     None, 0, 0,
     ""),
    ("crates/pdfplumber/tests/fixtures/pdfs/oss-fuzz/5317294594523136.pdf",
     None, 1, 14,
     "Dummy PDF file"),
    ("crates/pdfplumber/tests/fixtures/pdfs/oss-fuzz/5452007745323008.pdf",
     None, 2, 54,
     "HGeololod bWyoer Cldruel World...\nI\u2019ll b"),
    ("crates/pdfplumber/tests/fixtures/pdfs/oss-fuzz/5592736912179200.pdf",
     None, 1, 14,
     "Dummy PDF file"),
    ("crates/pdfplumber/tests/fixtures/pdfs/oss-fuzz/5809779695484928.pdf",
     None, 3, 43,
     "\nGoodbye Cruel World...\nI'll be back sho"),
    ("crates/pdfplumber/tests/fixtures/pdfs/oss-fuzz/5903429863538688.pdf",
     None, 1, 16,
     "Dummy PDF fiDumm"),
    ("crates/pdfplumber/tests/fixtures/pdfs/oss-fuzz/5914823472250880.pdf",
     None, 2, 22,
     "\nGojdbye Cruel World..."),
    ("crates/pdfplumber/tests/fixtures/pdfs/oss-fuzz/6013812888633344.pdf",
     None, 0, 0,
     ""),
    ("crates/pdfplumber/tests/fixtures/pdfs/oss-fuzz/6085913544818688.pdf",
     None, 1, 0,
     ""),
    ("crates/pdfplumber/tests/fixtures/pdfs/oss-fuzz/6400141380878336.pdf",
     None, 0, 0,
     ""),
    ("crates/pdfplumber/tests/fixtures/pdfs/oss-fuzz/6515565732102144.pdf",
     None, 2, 22,
     "\n(cid:18287)(cid:28516)(cid:25209)(cid:2"),
    ("crates/pdfplumber/tests/fixtures/pdfs/pdfjs/ArabicCIDTrueType.pdf",
     None, 1, 76,
     "\ufe94\ufef4\ufe91\ufeae\ufecc\ufedf\u0627 \u0637\ufeee\ufec4\ufccb\u0627 \u0639\u0627\ufeee\ufee7\u0627\n\ufe94\ufef4\ufe91\ufeae\ufecc\ufedf\u0627 \u0637\ufeee\ufec4\ufccb\u0627 \u0639\u0627\ufeee\ufee7\u0627\n"),
    ("crates/pdfplumber/tests/fixtures/pdfs/pdfbox/BidiSample.pdf",
     None, 1, 163,
     "\u0629\u064a\u0628\u0631\u0639\u0644\u0627\n\u0629\u064a\u0628\u0631\u0639\u0644\u0627\ntest \u0631\u0627\u0628\u062a\u062e\u0644\u0627\n14 april 14"),
    ("crates/pdfplumber/tests/fixtures/pdfs/pdfbox/FC60_Times.pdf",
     None, 1, 8,
     "\u0628\ufe8e\ufe98\ufc60\u0622\u064f"),
    ("crates/pdfplumber/tests/fixtures/pdfs/pdfjs/cid_cff.pdf",
     None, 1, 27,
     "processor reference chart"),
    ("tests/fixtures/generated/cjk_mixed.pdf",
     None, 1, 183,
     "Chinese: [CJK-Chinese-Placeholder]\nJapan"),
    ("crates/pdfplumber/tests/fixtures/pdfs/poppler/deseret.pdf",
     None, 1, 11,
     "\U00010410\U0001042f\U0001044a\U0001042c \U00010436\U0001042f\U00010449\U0001044a\U0001043c!"),
    ("crates/pdfplumber/tests/fixtures/pdfs/pdfbox/hello3.pdf",
     None, 1, 18,
     "Hello \ufeaa\ufee4\ufea4\ufee3 World."),
    ("crates/pdfplumber/tests/fixtures/pdfs/pdfjs/issue14117.pdf",
     None, 1, 1213,
     "Adm: 1/23/2021, D/C: 2/2/2021\nOn arrival"),
    ("crates/pdfplumber/tests/fixtures/pdfs/pdfjs/issue3521.pdf",
     None, 1, 7,
     "\u6211\u4eec\u90fd\u662f\u9ed1\u4f53\u5b57"),
    ("crates/pdfplumber/tests/fixtures/pdfs/pdfjs/issue4875.pdf",
     None, 1, 3,
     "ABC"),
    ("crates/pdfplumber/tests/fixtures/pdfs/pdfjs/issue7696.pdf",
     None, 1, 8,
     "(cid:2928)(cid:4455)(cid:6757)(cid:3059)"),
    ("crates/pdfplumber/tests/fixtures/pdfs/pdfjs/issue8570.pdf",
     None, 1, 49,
     "3D\u30ec\u30fc\u30b6\u30fc\u30ec\u30fc\u30c0\u30fc\n\u9699\u9593\u306e\u306a\u3044\u7a7a\u9593\u30b9\u30ad\u30e3\u30f3\u3067\u4eba\u3084\u7269\u4f53\u3092\u691c\u77e5\u3059\u308b\n\u5149\u5b66\u6280\u8853\xd7\u30ec\u30fc"),
    ("tests/fixtures/generated/multicolumn.pdf",
     None, 2, 293,
     "Left column line 1 Right column line 1\nL"),
    ("crates/pdfplumber/tests/fixtures/pdfs/nics-background-checks-2015-11.pdf",
     None, 1, 4319,
     "NICS Firearm Background Checks\nNovember "),
    ("crates/pdfplumber/tests/fixtures/pdfs/pdfjs/noembed-eucjp.pdf",
     None, 1, 5,
     "\u3042\u3044\u3046\u3048\u304a"),
    ("crates/pdfplumber/tests/fixtures/pdfs/pdfjs/noembed-jis7.pdf",
     None, 1, 12,
     "ABC\u3042\u3044\u3046\u3048\u304a123\n1"),
    ("crates/pdfplumber/tests/fixtures/pdfs/pdfjs/noembed-sjis.pdf",
     None, 1, 5,
     "\u3042\u3044\u3046\u3048\u304a"),
    ("crates/pdfplumber/tests/fixtures/pdfs/poppler/pdf20-utf8-test.pdf",
     None, 1, 107,
     "PDF 2.0 with UTF-8 test file\nHeading Lev"),
    ("crates/pdfplumber/tests/fixtures/pdfs/pdfbox/pdfbox-3127-vfont-reduced.pdf",
     None, 1, 730,
     "NOTICE OF PUBLIC HEARING\nThe South Carol"),
    ("crates/pdfplumber/tests/fixtures/pdfs/pdfbox/pdfbox-3833-japanese-reduced.pdf",
     None, 1, 3,
     "\u30bf\u30fc\u30f3"),
    ("crates/pdfplumber/tests/fixtures/pdfs/pdfbox/pdfbox-4322-empty-tounicode-reduced.pdf",
     None, 1, 6,
     "Justin"),
    ("crates/pdfplumber/tests/fixtures/pdfs/pdfbox/pdfbox-4531-bidi-ligature-1.pdf",
     None, 1, 6,
     "\u05d0\u05bc\n\ufefb"),
    ("crates/pdfplumber/tests/fixtures/pdfs/pdfbox/pdfbox-4531-bidi-ligature-2.pdf",
     None, 1, 6,
     "\u05d0\u05bc\n\u0644\u0627"),
    ("crates/pdfplumber/tests/fixtures/pdfs/pdfbox/pdfbox-5350-korean-reduced.pdf",
     None, 1, 6,
     "\uc0ac\ud68c\ubcf5\uc9c0\ubc95\uc778"),
    ("crates/pdfplumber/tests/fixtures/pdfs/pdfbox/pdfbox-5747-surrogate-diacritic-reduced.pdf",
     None, 1, 2,
     "\u0302\n\U0001d44b"),
    ("tests/fixtures/generated/rotated_pages.pdf",
     None, 4, 141,
     "This page has rotation = 0 degrees\nThis\n"),
    ("crates/pdfplumber/tests/fixtures/pdfs/poppler/russian.pdf",
     None, 1, 59,
     "\u043f\u0440\u043e\u0441\u0442\u043e\u0439 , \u0440\u0435\u0434\u0430\u043a\u0442\u0438\u0440\u043e\u0432\u0430\u0442\u044c\n\u0440\u0435\u0434\u0430\u043a\u0442\u0438\u0440\u0443\u0435\u043c\u044b\u0435\n\xb7 "),
    ("tests/fixtures/generated/table_borderless.pdf",
     None, 1, 189,
     "ID Name Category Price Stock\n1 Widget A "),
    ("tests/fixtures/generated/table_merged_cells.pdf",
     None, 1, 65,
     "Quarterly Report\nRegion Q1 Q2 Q3\nNorth 1"),
    ("crates/pdfplumber/tests/fixtures/pdfs/pdfjs/text_clip_cff_cid.pdf",
     None, 1, 6,
     "ABC123"),
]


@pytest.mark.skipif(not REF.exists(), reason="reference corpus not present")
@pytest.mark.parametrize(
    "rel,error,n_pages,n_chars,head", _PINS,
    ids=[Path(p[0]).stem for p in _PINS])
def test_ungoldened_fixture_pin(rel, error, n_pages, n_chars, head):
    res = extract_document((REF / rel).read_bytes())
    assert res["error"] == error
    assert res.get("n_pages", 0) == n_pages
    assert sum(len(pg["chars"]) for pg in res.get("pages", [])) == n_chars
    assert (res.get("text") or "")[:40] == head
