"""Content-stream tokenizer: bytes -> [(operator, operands)].

Lenient by design (reference: crates/pdfplumber-parse/src/tokenizer.rs:60-161):
malformed tokens are skipped with a warning, never fatal. Inline images
(BI ... ID <data> EI) are captured as a single `BI` operator whose operand
is (dict, raw_bytes) (tokenizer.rs:681-790).
"""

from __future__ import annotations

from .objects import Kw, Lexer, LexError, Name, find_eol

# Inline-image abbreviated key expansion (tokenizer.rs:721-756)
_II_KEY_ABBREV = {
    "BPC": "BitsPerComponent",
    "CS": "ColorSpace",
    "D": "Decode",
    "DP": "DecodeParms",
    "F": "Filter",
    "H": "Height",
    "IM": "ImageMask",
    "I": "Interpolate",
    "W": "Width",
}
_II_VALUE_ABBREV = {
    "G": "DeviceGray",
    "RGB": "DeviceRGB",
    "CMYK": "DeviceCMYK",
    "I": "Indexed",
    "AHx": "ASCIIHexDecode",
    "A85": "ASCII85Decode",
    "LZW": "LZWDecode",
    "Fl": "FlateDecode",
    "RL": "RunLengthDecode",
    "CCF": "CCITTFaxDecode",
    "DCT": "DCTDecode",
}

_IS_WS = frozenset(b"\x00\t\n\x0c\r ")


class Operator:
    __slots__ = ("name", "operands")

    def __init__(self, name: str, operands: list) -> None:
        self.name = name
        self.operands = operands

    def __repr__(self) -> str:  # pragma: no cover
        return f"Op({self.name} {self.operands})"


def _capture_inline_image(lexer: Lexer, img_dict: dict) -> bytes:
    """After ID, capture raw data until a whitespace-delimited EI."""
    data = lexer.data
    pos = lexer.pos
    # exactly one whitespace byte after ID per spec
    if pos < lexer.end and data[pos] in b"\x00\t\n\x0c\r ":
        pos += 1
    start = pos
    end = lexer.end
    while pos < end:
        # find candidate 'EI'
        idx = data.find(b"EI", pos)
        if idx < 0:
            pos = end
            break
        before_ok = idx == start or data[idx - 1] in b"\x00\t\n\x0c\r "
        after = data[idx + 2] if idx + 2 < end else 0x20
        after_ok = after in b"\x00\t\n\x0c\r " or idx + 2 >= end
        if before_ok and after_ok:
            lexer.pos = idx + 2
            return data[start:idx].rstrip(b"\x00\t\n\x0c\r ")
        pos = idx + 2
    lexer.pos = end
    return data[start:end]


def _parse_bi(lexer: Lexer) -> tuple[dict, bytes]:
    """Parse inline-image key/value pairs after BI up to ID, then
    capture the raw payload (tokenizer.rs:681-790)."""
    img: dict = {}
    while True:
        try:
            k = lexer.next_object()
        except (StopIteration, LexError):
            break
        if isinstance(k, Kw) and k.name == b"ID":
            break
        if not isinstance(k, Name):
            continue
        try:
            v = lexer.next_object()
        except (StopIteration, LexError):
            break
        key = _II_KEY_ABBREV.get(str(k), str(k))
        if isinstance(v, Name):
            v = Name(_II_VALUE_ABBREV.get(str(v), str(v)))
        elif isinstance(v, list):
            v = [
                Name(_II_VALUE_ABBREV.get(str(x), str(x)))
                if isinstance(x, Name)
                else x
                for x in v
            ]
        img[key] = v
    raw = _capture_inline_image(lexer, img)
    return img, raw


# -- fast path: one C-level regex scan over the whole stream ---------------
#
# SURVEY §4 promised vectorizing the byte-class loops of tokenizer.rs:
# 266-277. Measured on a 235 KB 3000-op content stream, a numpy mask +
# bisect jump table is 1.7x SLOWER than the plain byte loops (101 ms vs
# 58 ms — per-call bisect overhead beats short-run loops in CPython), but
# a single master-pattern regex scan IS the C-speed classification and
# runs the same stream in ~39 ms. The scanner below produces identical
# Operator lists to the Lexer path for everything it accepts and returns
# None (fall back to the Lexer) on constructs whose lenient-recovery
# semantics are subtle: junk hex strings, #-escaped names, keywords
# inside dict literals, mismatched closers inside frames.

import re

_TOK = re.compile(
    rb"""
      (?P<ws>[\x00\t\n\x0c\r\x20]+)
    | (?P<num>[+-]?(?:\d+\.?\d*|\.\d+))
        (?=[\x00\t\n\x0c\r\x20()<>\[\]{}/%]|$)
    | (?P<numjunk>[+\-.0-9][^\x00\t\n\x0c\r\x20()<>\[\]{}/%]*)
    | (?P<name>/[^\x00\t\n\x0c\r\x20()<>\[\]{}/%]*)
    | (?P<str>\((?:[^()\\]|\\.)*\))
    | (?P<kw>[^\x00\t\n\x0c\r\x20()<>\[\]{}/%]+)
    | (?P<aopen>\[) | (?P<aclose>\])
    | (?P<dopen><<) | (?P<dclose>>>)
    | (?P<hex><[^<>]*>)
    | (?P<brace>[{}])
    | (?P<comment>%)
    """,
    re.X | re.S,
)
# group indexes for mo.lastindex (int compares beat lastgroup strings)
_G_WS, _G_NUM, _G_NUMJUNK, _G_NAME, _G_STR, _G_KW = 1, 2, 3, 4, 5, 6
_G_AOPEN, _G_ACLOSE, _G_DOPEN, _G_DCLOSE = 7, 8, 9, 10
_G_HEX, _G_BRACE, _G_COMMENT = 11, 12, 13
_HEX_CLEAN = re.compile(rb"\A<[0-9A-Fa-f\x00\t\n\x0c\r\x20]*>\Z")
_HEX_WS = re.compile(rb"[\x00\t\n\x0c\r\x20]+")


def _scan_tokenize(content: bytes,
                   warnings: list[str]) -> list[Operator] | None:
    """Regex-scan fast path; returns None to fall back to the Lexer."""
    from .objects import Ref

    ops: list[Operator] = []
    operands: list = []
    # frames: ("a"|"d", parent_items, parent_ldig) for open [ / << ;
    # ldig is True when the LAST item appended to the current level was
    # an unsigned digit run (the `num gen R` gen slot, objects.py:157)
    frames: list = []
    items = operands
    ldig = False
    pos, end = 0, len(content)
    match = _TOK.match
    while pos < end:
        if len(operands) > 10_000 and not frames:
            warnings.append("tokenize: operand overflow, resetting")
            operands = []
            items = operands
            ldig = False
        mo = match(content, pos)
        if mo is None:
            b = content[pos]
            if b == 0x28:  # '(' with nesting/escapes the regex can't close
                lx = Lexer(content, pos, end)
                items.append(lx.read_literal_string())
                ldig = False
                pos = lx.pos
                continue
            if b == 0x3C:  # unterminated '<' hex
                lx = Lexer(content, pos, end)
                items.append(lx.read_hex_string())
                ldig = False
                pos = lx.pos
                continue
            if b == 0x29:  # stray ')': single-byte keyword (objects.py:169)
                tok: object = Kw(b")")
                pos += 1
            elif b == 0x3E:  # stray '>': LexError in next_object
                if frames:
                    return None
                warnings.append("tokenize: unexpected >")
                operands = []
                items = operands
                ldig = False
                pos += 1
                continue
            else:  # pragma: no cover — every byte has a class
                return None
        else:
            g = mo.lastindex
            npos = mo.end()
            if g == _G_WS:
                pos = npos
                continue
            if g == _G_COMMENT:  # to the EOL byte, as %[^\r\n]* would
                pos = find_eol(content, npos, end)
                continue
            if g == _G_NUM:
                v = mo.group()
                pos = npos
                items.append(float(v) if (b"." in v) else int(v))
                ldig = v.isdigit()
                continue
            if g == _G_STR:
                v = mo.group()
                if b"\\" in v:
                    # escapes: reuse the Lexer's exact unescape
                    lx = Lexer(content, pos, end)
                    items.append(lx.read_literal_string())
                    pos = lx.pos
                else:
                    items.append(v[1:-1])
                    pos = npos
                ldig = False
                continue
            if g == _G_NAME:
                v = mo.group()
                if b"#" in v:
                    return None  # #XX escapes: rare, exact via Lexer
                items.append(Name(v[1:].decode("latin-1")))
                ldig = False
                pos = npos
                continue
            if g == _G_KW:
                v = mo.group()
                c0 = v[0]
                if not (0x41 <= c0 <= 0x5A or 0x61 <= c0 <= 0x7A):
                    # non-alphabetic start: single-byte keyword
                    tok = Kw(v[:1])
                    pos += 1
                elif v == b"true":
                    items.append(True)
                    ldig = False
                    pos = npos
                    continue
                elif v == b"false":
                    items.append(False)
                    ldig = False
                    pos = npos
                    continue
                elif v == b"null":
                    items.append(None)
                    ldig = False
                    pos = npos
                    continue
                else:
                    tok = Kw(v)
                    pos = npos
            elif g == _G_HEX:
                v = mo.group()
                if _HEX_CLEAN.match(v) is None:
                    return None  # junk inside <...>: subtle recovery
                digits = _HEX_WS.sub(b"", v[1:-1])
                if len(digits) % 2:
                    digits += b"0"
                items.append(bytes.fromhex(digits.decode("ascii")))
                ldig = False
                pos = npos
                continue
            elif g == _G_NUMJUNK:
                # mirror read_number's lenient path (objects.py:206-217)
                v = mo.group()
                pos = npos
                try:
                    if b"." in v or b"e" in v or b"E" in v:
                        num = float(v)
                    else:
                        num = int(v)
                except ValueError:
                    try:
                        num = float(
                            v.replace(b"--", b"-").split(b".", 2)[0] or b"0")
                    except ValueError:
                        if not frames:
                            warnings.append(f"tokenize: bad number {v!r}")
                            operands = []
                            items = operands
                            ldig = False
                        continue  # inside a frame: silently skipped
                items.append(num)
                ldig = False
                continue
            elif g == _G_AOPEN:
                frames.append(("a", items, ldig))
                items = []
                ldig = False
                pos = npos
                continue
            elif g == _G_DOPEN:
                frames.append(("d", items, ldig))
                items = []
                ldig = False
                pos = npos
                continue
            elif g == _G_ACLOSE:
                pos = npos
                if not frames:
                    warnings.append("tokenize: unexpected ]")
                    operands = []
                    items = operands
                    ldig = False
                    continue
                kind, pitems, _pldig = frames.pop()
                if kind != "a":
                    return None
                pitems.append(items)
                items = pitems
                ldig = False
                continue
            elif g == _G_DCLOSE:
                pos = npos
                if not frames:
                    # two LexErrors in the Lexer path: one per '>'
                    warnings.append("tokenize: unexpected >")
                    warnings.append("tokenize: unexpected >")
                    operands = []
                    items = operands
                    ldig = False
                    continue
                kind, pitems, _pldig = frames.pop()
                if kind != "d":
                    return None
                d: dict = {}
                i, ni = 0, len(items)
                while i < ni:
                    k = items[i]
                    if isinstance(k, Name):
                        d[str(k)] = items[i + 1] if i + 1 < ni else None
                        i += 2
                    else:
                        i += 1  # lenient: skip non-name key
                pitems.append(d)
                items = pitems
                ldig = False
                continue
            else:  # _G_BRACE
                tok = Kw(mo.group())
                pos = npos
        # ---- keyword token dispatch (tok is a Kw) ----
        name_b = tok.name
        if name_b == b"R" and ldig and len(items) >= 2:
            # `num gen R` lookahead fold (objects.py:148-163): gen is a
            # pure digit run <= 0xFFFF, num a non-negative int
            gen, num = items[-1], items[-2]
            if (gen <= 0xFFFF and isinstance(num, int)
                    and not isinstance(num, bool) and num >= 0):
                items[-2:] = [Ref(num, gen)]
                ldig = False
                continue
        if frames:
            # keywords inside arrays stay as elements (objects.py:318);
            # inside dicts the skip rules are subtle — fall back
            if any(f[0] == "d" for f in frames):
                return None
            items.append(tok)
            ldig = False
            continue
        name = name_b.decode("latin-1")
        if name == "BI":
            lx = Lexer(content, pos, end)
            img, raw = _parse_bi(lx)
            pos = lx.pos
            ops.append(Operator("BI", [img, raw]))
            operands = []
            items = operands
            ldig = False
        else:
            ops.append(Operator(name, operands))
            operands = []
            items = operands
            ldig = False
    return ops


def tokenize(content: bytes, warnings: list[str] | None = None) -> list[Operator]:
    """Lenient tokenize of one (concatenated) content stream."""
    scan_warnings: list[str] = []
    fast = _scan_tokenize(content, scan_warnings)
    if fast is not None:
        if warnings is not None:
            warnings.extend(scan_warnings)
        return fast
    ops: list[Operator] = []
    operands: list = []
    lexer = Lexer(content)
    while True:
        try:
            obj = lexer.next_object()
        except StopIteration:
            break
        except LexError as e:
            if warnings is not None:
                warnings.append(f"tokenize: {e}")
            operands = []
            continue
        if isinstance(obj, Kw):
            name = obj.name.decode("latin-1")
            if name == "BI":
                img, raw = _parse_bi(lexer)
                ops.append(Operator("BI", [img, raw]))
                operands = []
            else:
                ops.append(Operator(name, operands))
                operands = []
        else:
            operands.append(obj)
            # defensive bound: operand floods from corrupt streams
            if len(operands) > 10_000:
                if warnings is not None:
                    warnings.append("tokenize: operand overflow, resetting")
                operands = []
    return ops
