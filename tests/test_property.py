"""Property-based robustness tests (hypothesis): the kernel must be
total — arbitrary bytes never raise, never hang; dedupe matches its
brute-force definition on arbitrary inputs."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from pdfplumber_rs_spark.kernel.chars import CharColumns
from pdfplumber_rs_spark.kernel.document import extract_document
from pdfplumber_rs_spark.kernel.objects import Lexer
from pdfplumber_rs_spark.kernel.textnorm import dedupe_chars
from pdfplumber_rs_spark.kernel.tokenizer import tokenize


@settings(max_examples=60, deadline=3000)
@given(st.binary(max_size=4096))
def test_extract_document_total(data):
    r = extract_document(data)
    assert isinstance(r, dict) and "error" in r and "pages" in r


@settings(max_examples=60, deadline=3000)
@given(st.binary(max_size=4096))
def test_extract_document_total_pdfish(data):
    # force the parser past the header check into the object machinery
    r = extract_document(b"%PDF-1.4\n" + data)
    assert isinstance(r, dict)


@settings(max_examples=100, deadline=2000)
@given(st.binary(max_size=2048))
def test_tokenizer_terminates(data):
    ops = tokenize(data)
    assert isinstance(ops, list)


@settings(max_examples=100, deadline=2000)
@given(st.binary(max_size=1024))
def test_lexer_always_advances(data):
    """The lenient lexer must consume input monotonically — the
    invariant behind the oss-fuzz hang fixes."""
    lx = Lexer(data)
    steps = 0
    while True:
        pos = lx.pos
        try:
            lx.next_object()
        except StopIteration:
            break
        except Exception:  # noqa: BLE001 — LexError etc.
            pass
        assert lx.pos > pos or lx.pos >= lx.end, "lexer must make progress"
        steps += 1
        assert steps <= len(data) + 8


def _brute(chars, tol):
    kept = []
    for ch in chars:
        dup = False
        for k in kept:
            if (k["text"] == ch["text"] and k["fontname"] == ch["fontname"]
                    and k["size"] == ch["size"]
                    and abs(k["x0"] - ch["x0"]) <= tol
                    and abs(k["top"] - ch["top"]) <= tol):
                dup = True
                break
        if not dup:
            kept.append(ch)
    return kept


_char = st.fixed_dictionaries({
    "text": st.sampled_from("abc"),
    "fontname": st.sampled_from(["F1", "F2"]),
    "size": st.sampled_from([10.0, 12.0]),
    "x0": st.floats(-100, 100, allow_nan=False).map(lambda v: round(v, 2)),
    "top": st.floats(-100, 100, allow_nan=False).map(lambda v: round(v, 2)),
})


@settings(max_examples=80, deadline=3000)
@given(st.lists(_char, max_size=100), st.sampled_from([0.5, 1.0, 3.0]))
def test_dedupe_matches_bruteforce(chars, tol):
    cols = CharColumns.from_dicts(
        [dict(c, x1=c["x0"], bottom=c["top"], doctop=c["top"], upright=True,
              direction="ltr") for c in chars])
    kept = [chars[i] for i in dedupe_chars(cols, tol).run.tolist()]
    assert kept == _brute(chars, tol)


@settings(max_examples=40, deadline=5000)
@given(st.binary(max_size=2048))
def test_scan_tokenizer_differential(data):
    """The regex-scan fast path must agree with the Lexer path (or
    decline) on ARBITRARY bytes — the hypothesis twin of the seeded
    fuzz in test_tokenizer_scan.py."""
    from tests.test_tokenizer_scan import _assert_equiv

    _assert_equiv(data)
