"""PDF object model and a byte-level lexer for PDF object syntax.

Shared by the document parser (xref/objects) and the content-stream
tokenizer. Semantics follow the reference's lenient tokenizer
(crates/pdfplumber-parse/src/tokenizer.rs:60-679): literal strings with
escapes, hex strings, names with #XX escapes, numbers, arrays, dicts,
keywords; malformed input is skipped rather than fatal.
"""

from __future__ import annotations


class Name(str):
    """A PDF /Name. Subclass of str so it can key dicts naturally."""

    __slots__ = ()

    def __repr__(self) -> str:  # pragma: no cover
        return f"/{str(self)}"


class Ref:
    """Indirect object reference `num gen R`."""

    __slots__ = ("num", "gen")

    def __init__(self, num: int, gen: int) -> None:
        self.num = num
        self.gen = gen

    def __eq__(self, other: object) -> bool:
        return isinstance(other, Ref) and (self.num, self.gen) == (other.num, other.gen)

    def __hash__(self) -> int:
        return hash((self.num, self.gen))

    def __repr__(self) -> str:  # pragma: no cover
        return f"{self.num} {self.gen} R"


class Stream:
    """A PDF stream object: dictionary + raw (still encoded) bytes."""

    __slots__ = ("dict", "raw")

    def __init__(self, d: dict, raw: bytes) -> None:
        self.dict = d
        self.raw = raw

    def __repr__(self) -> str:  # pragma: no cover
        return f"<Stream {len(self.raw)}B {self.dict}>"


# PDF whitespace and delimiter byte classes (PDF 32000-1:2008 §7.2.2)
WHITESPACE = b"\x00\t\n\x0c\r "
DELIMITERS = b"()<>[]{}/%"

_IS_WS = bytearray(256)
for _b in WHITESPACE:
    _IS_WS[_b] = 1
_IS_DELIM = bytearray(256)
for _b in DELIMITERS:
    _IS_DELIM[_b] = 1
_IS_REGULAR = bytearray(1 if not (_IS_WS[i] or _IS_DELIM[i]) else 0 for i in range(256))


class LexError(Exception):
    pass


def find_eol(data: bytes, pos: int, end: int) -> int:
    """Index of the first \\r or \\n in data[pos:end], or `end`: where a
    `%` comment stops. bytes.find runs at memchr speed; the doubling
    window keeps each call proportional to the distance it skips, so
    many comments cost one pass over the stream."""
    step = 256
    while pos < end:
        stop = min(pos + step, end)
        nl = data.find(b"\n", pos, stop)
        cr = data.find(b"\r", pos, stop if nl < 0 else nl)
        if cr >= 0:
            return cr
        if nl >= 0:
            return nl
        pos = stop
        step <<= 1
    return end


class Lexer:
    """Sequential lexer over PDF object syntax.

    `next_object()` returns one of: bool, int, float, bytes (string),
    Name, list, dict, None (null), Keyword (as `Kw`), or raises
    StopIteration at end of input.
    """

    __slots__ = ("data", "pos", "end")

    def __init__(self, data: bytes, pos: int = 0, end: int | None = None) -> None:
        self.data = data
        self.pos = pos
        self.end = len(data) if end is None else min(end, len(data))

    # -- low-level helpers -------------------------------------------------

    def skip_ws(self) -> None:
        data, end = self.data, self.end
        pos = self.pos
        while pos < end:
            b = data[pos]
            if _IS_WS[b]:
                pos += 1
            elif b == 0x25:  # '%' comment to EOL
                pos = find_eol(data, pos + 1, end)
            else:
                break
        self.pos = pos

    def read_regular_run(self) -> bytes:
        """Read a run of regular (non-ws, non-delimiter) bytes."""
        data, end = self.data, self.end
        start = pos = self.pos
        while pos < end and _IS_REGULAR[data[pos]]:
            pos += 1
        self.pos = pos
        return data[start:pos]

    # -- object parsers ----------------------------------------------------

    def next_object(self):
        """Parse the next object; raises StopIteration at end, LexError on
        malformed syntax (caller decides lenient recovery)."""
        self.skip_ws()
        if self.pos >= self.end:
            raise StopIteration
        b = self.data[self.pos]
        if b == 0x2F:  # '/'
            return self.read_name()
        if b == 0x28:  # '('
            return self.read_literal_string()
        if b == 0x3C:  # '<'
            if self.pos + 1 < self.end and self.data[self.pos + 1] == 0x3C:
                return self.read_dict()
            return self.read_hex_string()
        if b == 0x5B:  # '['
            return self.read_array()
        if b == 0x5D:  # ']'
            # consume: read_array detects ']' itself, so one reaching here
            # is junk — leaving it unconsumed loops the lenient callers
            self.pos += 1
            raise LexError("unexpected ]")
        if b == 0x3E:  # '>'
            self.pos += 1  # same: read_dict detects '>>' itself
            raise LexError("unexpected >")
        if b == 0x7B or b == 0x7D:  # '{' '}' (PostScript funcs) — skip
            self.pos += 1
            return Kw(b"{" if b == 0x7B else b"}")
        if (0x30 <= b <= 0x39) or b in (0x2B, 0x2D, 0x2E):  # digit + - .
            num = self.read_number()
            if isinstance(num, int) and num >= 0:
                # non-recursive lookahead for `num gen R` — a recursive
                # next_object here cascades through integer runs (O(n²)
                # on big arrays / objstm offset tables)
                save = self.pos
                self.skip_ws()
                gen_run = self.read_regular_run()
                if gen_run.isdigit() and int(gen_run) <= 0xFFFF:
                    gen = int(gen_run)
                    self.skip_ws()
                    kw_run = self.read_regular_run()
                    if kw_run == b"R":
                        return Ref(num, gen)
                self.pos = save
            return num
        # keyword (true/false/null/operator) — pdfminer starts multi-byte
        # keywords only on alphabetic bytes; any other byte becomes a
        # single-byte keyword token (so a fuzzed b"\x1277" lexes as junk
        # Kw(b"\x12") + number 77, and ' / " stay valid operators)
        if not (0x41 <= b <= 0x5A or 0x61 <= b <= 0x7A):
            self.pos += 1
            return Kw(bytes((b,)))
        run = self.read_regular_run()
        if not run:
            # lone delimiter we don't understand: consume one byte
            self.pos += 1
            raise LexError(f"unexpected byte {b:#x}")
        if run == b"true":
            return True
        if run == b"false":
            return False
        if run == b"null":
            return None
        return Kw(run)

    def read_name(self) -> Name:
        assert self.data[self.pos] == 0x2F
        self.pos += 1
        raw = self.read_regular_run()
        if b"#" in raw:
            out = bytearray()
            i = 0
            while i < len(raw):
                c = raw[i]
                if c == 0x23 and i + 2 < len(raw) + 1:
                    try:
                        out.append(int(raw[i + 1 : i + 3], 16))
                        i += 3
                        continue
                    except ValueError:
                        pass
                out.append(c)
                i += 1
            raw = bytes(out)
        return Name(raw.decode("latin-1"))

    def read_number(self):
        run = self.read_regular_run()
        try:
            if b"." in run or b"e" in run or b"E" in run:
                return float(run)
            return int(run)
        except ValueError:
            # lenient: things like "--5" or "1.2.3" — best effort
            try:
                return float(run.replace(b"--", b"-").split(b".", 2)[0] or b"0")
            except ValueError:
                raise LexError(f"bad number {run!r}") from None

    def read_literal_string(self) -> bytes:
        # tokenizer.rs:295-385 semantics: nested parens, backslash escapes,
        # octal escapes, line continuations.
        data, end = self.data, self.end
        pos = self.pos + 1  # past '('
        out = bytearray()
        depth = 1
        while pos < end:
            c = data[pos]
            if c == 0x5C:  # backslash
                pos += 1
                if pos >= end:
                    break
                e = data[pos]
                if e == 0x6E:
                    out.append(0x0A)
                elif e == 0x72:
                    out.append(0x0D)
                elif e == 0x74:
                    out.append(0x09)
                elif e == 0x62:
                    out.append(0x08)
                elif e == 0x66:
                    out.append(0x0C)
                elif e in (0x28, 0x29, 0x5C):
                    out.append(e)
                elif 0x30 <= e <= 0x37:  # octal, up to 3 digits
                    val = e - 0x30
                    for _ in range(2):
                        if pos + 1 < end and 0x30 <= data[pos + 1] <= 0x37:
                            pos += 1
                            val = val * 8 + (data[pos] - 0x30)
                        else:
                            break
                    out.append(val & 0xFF)
                elif e == 0x0A:
                    pass  # line continuation
                elif e == 0x0D:
                    if pos + 1 < end and data[pos + 1] == 0x0A:
                        pos += 1
                else:
                    out.append(e)  # unknown escape: keep char
                pos += 1
            elif c == 0x28:
                depth += 1
                out.append(c)
                pos += 1
            elif c == 0x29:
                depth -= 1
                if depth == 0:
                    pos += 1
                    self.pos = pos
                    return bytes(out)
                out.append(c)
                pos += 1
            else:
                out.append(c)
                pos += 1
        self.pos = pos
        return bytes(out)  # unterminated: lenient

    def read_hex_string(self) -> bytes:
        data, end = self.data, self.end
        pos = self.pos + 1  # past '<'
        digits = bytearray()
        # pdfminer semantics: hex digits and whitespace only; ANY other
        # byte terminates the string (consumed only when it is '>'), so
        # a fuzzed "<000<>" lexes as <000> then an empty <> string
        while pos < end:
            c = data[pos]
            if (0x30 <= c <= 0x39) or (0x41 <= c <= 0x46) or (0x61 <= c <= 0x66):
                digits.append(c)
                pos += 1
            elif _IS_WS[c]:
                pos += 1
            else:
                if c == 0x3E:
                    pos += 1  # past '>'
                break
        self.pos = pos
        if len(digits) % 2:
            digits.append(0x30)  # pad with 0 per spec
        return bytes.fromhex(digits.decode("ascii"))

    def read_array(self) -> list:
        self.pos += 1  # past '['
        out = []
        while True:
            self.skip_ws()
            if self.pos >= self.end:
                return out  # lenient: unterminated
            if self.data[self.pos] == 0x5D:
                self.pos += 1
                return out
            try:
                v = self.next_object()
            except LexError:
                continue  # lenient: skip malformed element
            except StopIteration:
                return out
            # NB: stray keyword tokens stay as elements — pdfminer's
            # do_keyword pushes unknown keywords onto the stack, so a
            # fuzzed width array keeps them as (non-numeric → 0) entries
            out.append(v)

    def read_dict(self) -> dict:
        self.pos += 2  # past '<<'
        out: dict = {}
        while True:
            self.skip_ws()
            if self.pos >= self.end:
                return out
            if (
                self.data[self.pos] == 0x3E
                and self.pos + 1 < self.end
                and self.data[self.pos + 1] == 0x3E
            ):
                self.pos += 2
                return out
            try:
                key = self.next_object()
            except LexError:
                continue
            except StopIteration:
                return out
            if not isinstance(key, Name):
                continue  # lenient: skip non-name key
            try:
                val = self.next_object()
                # pdfminer's flat-stack dict build drops stray keyword
                # tokens, so the value is the next real object after them
                while isinstance(val, Kw):
                    if self.data.startswith(b">>", self.pos):
                        raise LexError("kw at dict end")
                    val = self.next_object()
            except (LexError, StopIteration):
                val = None
            out[str(key)] = val


class Kw:
    """A bare keyword token (content-stream operator or 'obj'/'R'/etc.)."""

    __slots__ = ("name",)

    def __init__(self, name: bytes) -> None:
        self.name = name

    def __eq__(self, other: object) -> bool:
        return isinstance(other, Kw) and self.name == other.name

    def __hash__(self) -> int:
        return hash(self.name)

    def __repr__(self) -> str:  # pragma: no cover
        return f"Kw({self.name!r})"

