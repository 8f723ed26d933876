"""Differential test: the regex-scan fast tokenizer must produce
byte-identical Operator streams (and warnings) to the byte-level Lexer
path for everything it accepts, and fall back (return None) otherwise.
Mirrors the lenient semantics of tokenizer.rs:60-161.
"""

from __future__ import annotations

import random

import pdfplumber_rs_spark.kernel.tokenizer as T
from pdfplumber_rs_spark.kernel.objects import Kw, Lexer, LexError, Name, Ref
from pdfplumber_rs_spark.kernel.tokenizer import Operator, _scan_tokenize


def _slow_tokenize(content: bytes, warnings: list) -> list[Operator]:
    """The Lexer path, bypassing the fast scanner."""
    ops: list[Operator] = []
    operands: list = []
    lexer = Lexer(content)
    while True:
        try:
            obj = lexer.next_object()
        except StopIteration:
            break
        except LexError as e:
            warnings.append(f"tokenize: {e}")
            operands = []
            continue
        if isinstance(obj, Kw):
            name = obj.name.decode("latin-1")
            if name == "BI":
                img, raw = T._parse_bi(lexer)
                ops.append(Operator("BI", [img, raw]))
                operands = []
            else:
                ops.append(Operator(name, operands))
                operands = []
        else:
            operands.append(obj)
            if len(operands) > 10_000:
                warnings.append("tokenize: operand overflow, resetting")
                operands = []
    return ops


def _norm(x):
    if isinstance(x, Operator):
        return ("OP", x.name, _norm(x.operands))
    if isinstance(x, list):
        return tuple(_norm(i) for i in x)
    if isinstance(x, dict):
        return tuple(sorted((k, _norm(v)) for k, v in x.items()))
    if isinstance(x, Ref):
        return ("REF", x.num, x.gen)
    if isinstance(x, Kw):
        return ("KW", x.name)
    if isinstance(x, Name):
        return ("NAME", str(x))
    if isinstance(x, bool):
        return ("B", x)
    if isinstance(x, float):
        return ("F", round(x, 10))
    if isinstance(x, int):
        return ("I", x)
    return x


TRICKY = [
    b"BT /F1 11 Tf 72 720 Td (hello world) Tj ET",
    b"/P <</MCID 0>> BDC (x) Tj EMC",
    b"[(a) -120 (b\\(c)] TJ",
    b"(nested (paren) string) Tj",
    b"(escape \\n\\r\\t\\\\ \\251 \\q) Tj",
    b"(unterminated",
    b"<48656C6C6F> Tj", b"<48 65 6c> Tj", b"<48656> Tj",
    b"<junk$> Tj", b"<0< > Tj",
    b"1 0 R 2 3 R Do", b"[1 0 R] x", b"<</Length 3 0 R /A /B>> x",
    b"0 65536 R x", b"+5 2 R x", b"-5 2 R x", b"1 +2 R x", b"5 R x",
    b"1 2 3 R g", b"(a)1 2 R g", b"1 (a) 2 R g",
    b"--5 1.2.3 1e5 12abc . + - Tj",
    b"] q ] ]", b">> q > >", b"{ } if",
    b"true false null Tj",
    b"/ /Name#20Space /A Tj",
    b"(s) ' (t) \"", b"\"x 'y",
    b"%comment\n1 2 Tj%trail",
    b"[1 [2 [3] 4] 5] x", b"<</A<</B 1>>>> x",
    b"[ <</K 2>> (s) /N 5 tr ] x",
    b"[1 2", b"<</A 1",
    b"BI /W 2 /H 2 /CS /G /F /AHx ID 11223344 EI Tj",
    b"BI /BPC 8 ID \x00\x01\x02 EI q",
    b"\x12 77 Tj", b"\xff\xfe garbage \x00 Tj",
    b"5/Name cs", b"1.5.2.7 w", b"()Tj",
    # comments end at the first \r or \n, or run to the end
    b"1 Tj %cr\r2 Tj", b"1 Tj %crlf\r\n2 Tj", b"1 Tj %lf\n2 Tj",
    b"%a\r%b\n%c\r\n%d", b"1 2 %to the end", b"%", b"q %\nQ",
    b"(100% of it) Tj", b"[(50%) 3 (%)] TJ", b"<</A (%x)>> BDC",
    b"1 Tj %" + b"c" * (3 << 20) + b"\r\n2 Tj",
    # a multi-MiB comment on the Lexer path (a #-escaped name forces it)
    b"/A#20B cs %" + b"c" * (3 << 20) + b"\r(after) Tj",
]


def _assert_equiv(content: bytes) -> bool:
    """Returns True if the fast path handled the stream."""
    w_fast: list = []
    fast = _scan_tokenize(content, w_fast)
    if fast is None:
        return False
    w_slow: list = []
    slow = _slow_tokenize(content, w_slow)
    assert _norm(fast) == _norm(slow), content[:120]
    assert w_fast == w_slow, content[:120]
    return True


def test_tricky_cases_equivalent():
    for c in TRICKY:
        _assert_equiv(c)


def test_long_comment_on_the_lexer_path():
    content = TRICKY[-1]
    assert _scan_tokenize(content, []) is None
    warnings: list = []
    ops = T.tokenize(content, warnings)
    assert _norm(ops) == _norm([Operator("cs", [Name("A B")]),
                                Operator("Tj", [b"after"])])
    assert warnings == []


def test_fuzz_equivalent():
    rnd = random.Random(42)
    alphabet = [b"(", b")", b"<", b">", b"[", b"]", b"<<", b">>", b"/N",
                b"1", b"2.5", b"-3", b"R", b"Tj", b"q", b"(str)",
                b"(a\\)b)", b"<AB>", b"%c\n", b" ", b"\n", b"{", b"}",
                b"true", b"null", b"\\", b"#", b"*", b"'", b'"', b"\x07"]
    for _ in range(1500):
        c = b" ".join(
            rnd.choice(alphabet) for _ in range(rnd.randint(1, 40)))
        _assert_equiv(c)
    for _ in range(800):
        c = bytes(rnd.randrange(256) for _ in range(rnd.randint(1, 120)))
        _assert_equiv(c)


def test_fast_path_taken_on_real_streams():
    """The synthesized corpora must actually hit the fast path — a
    silent fallback would forfeit the speedup without failing."""
    from pdfplumber_rs_spark.sources.pdfgen import (
        pdf_from_text, text_page_content)

    content = text_page_content("line one\nline two 42", 792.0, mcid=True)
    assert _assert_equiv(content)
    # and end-to-end: a full document parses identically
    pdf = pdf_from_text("hello\nworld", mcid=True)
    from pdfplumber_rs_spark.kernel.document import extract_document

    res = extract_document(pdf)
    assert res["error"] is None and "hello" in res["text"]
