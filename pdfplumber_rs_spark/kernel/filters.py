"""Stream filters (decode). FlateDecode dominates real PDFs.

Mirrors crates/pdfplumber-parse/src/interpreter.rs:1911 decode_stream and
lopdf's filter handling; lenient — failures return b"" rather than raising.

Every decoder in `_DECODERS` takes `cap`, the most output bytes it may
produce; the expanding ones (Flate, LZW, RunLength, and the PNG
predictor after Flate or LZW) stop there. The bytes the filters make
for page content are held to a fixed budget (`MAX_CONTENT_BYTES`,
`decode_content`): a Flate bomb then costs the budget in memory and
time, never its whole inflated size.
"""

from __future__ import annotations

import sys
import zlib

from .objects import Stream

# The bytes the filters may make for one page's /Contents (all parts
# together), and for each form XObject's content. It guards against
# streams that inflate far beyond their size in the file: inflating one
# costs a worker twice the inflated size at peak (zlib gathers its output,
# then copies it into one bytes object), and the tokenizer then walks all
# of it. It is not a bound on what a page can draw. The interpreter's
# object budget counts a path as one object whatever its segment count,
# and per-glyph positioning costs about 40 bytes a glyph, so a map or CAD
# page can hold more than 16 MiB of real drawing; such a page is cut too,
# and its budget warning flags the loss. The reference has no such budget.
# The largest decoded page content in the repository's corpora is 4,447
# bytes, and none of them holds a form XObject (scripts/content_sizes.py);
# real crawl traffic was not measured. A part with no filter is the file's
# own bytes, already in memory under max_input_bytes: it is kept whole
# and not counted.
MAX_CONTENT_BYTES = 16 << 20
FLATE_PARTIAL_WARNING = "FlateDecode: stream ends early; kept the bytes decoded so far"
NO_CAP = sys.maxsize


def _apply_png_predictor(data: bytes, colors: int, bpc: int, columns: int,
                         cap: int) -> bytes:
    bpp = max(1, (colors * bpc + 7) // 8)
    # a row longer than the cap is cut anyway: its first `cap` bytes only
    # need the first `cap` bytes of the row above
    rowlen = min((columns * colors * bpc + 7) // 8, cap)
    out = bytearray()
    prev = bytearray(rowlen)
    i = 0
    n = len(data)
    while i < n and len(out) < cap:
        ft = data[i]
        i += 1
        row = bytearray(data[i : i + rowlen])
        i += rowlen
        if len(row) < rowlen:
            row.extend(b"\x00" * (rowlen - len(row)))
        if ft == 0:
            pass
        elif ft == 1:  # Sub
            for j in range(bpp, rowlen):
                row[j] = (row[j] + row[j - bpp]) & 0xFF
        elif ft == 2:  # Up
            for j in range(rowlen):
                row[j] = (row[j] + prev[j]) & 0xFF
        elif ft == 3:  # Average
            for j in range(rowlen):
                left = row[j - bpp] if j >= bpp else 0
                row[j] = (row[j] + ((left + prev[j]) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            for j in range(rowlen):
                a = row[j - bpp] if j >= bpp else 0
                b = prev[j]
                c = prev[j - bpp] if j >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                row[j] = (row[j] + pred) & 0xFF
        out.extend(row)
        prev = row
    del out[cap:]
    return bytes(out)


def _predict(data: bytes, parms: dict, cap: int) -> bytes:
    """The /DecodeParms PNG predictor (Predictor >= 10), if any."""
    if int(parms.get("Predictor", 1) or 1) >= 10:
        return _apply_png_predictor(
            data,
            int(parms.get("Colors", 1) or 1),
            int(parms.get("BitsPerComponent", 8) or 8),
            int(parms.get("Columns", 1) or 1),
            cap,
        )
    return data


def flate_decode(data: bytes, cap: int, warnings: list[str]) -> bytes:
    # zlib-wrapped first, then raw deflate. A stream that ends before its
    # end marker keeps what inflated (lenient), with a warning.
    for wbits in (zlib.MAX_WBITS, -zlib.MAX_WBITS):
        d = zlib.decompressobj(wbits)
        try:
            raw = d.decompress(data, cap)
        except zlib.error:
            continue
        if data and not d.eof and len(raw) < cap:
            warnings.append(FLATE_PARTIAL_WARNING)
        return raw
    return b""


def ascii_hex_decode(data: bytes) -> bytes:
    digits = bytearray(c for c in data.split(b">")[0] if c in b"0123456789abcdefABCDEF")
    if len(digits) % 2:
        digits.append(0x30)
    try:
        return bytes.fromhex(digits.decode("ascii"))
    except ValueError:
        return b""


def ascii85_decode(data: bytes) -> bytes:
    import base64

    body = data
    if body.startswith(b"<~"):
        body = body[2:]
    end = body.find(b"~>")
    if end >= 0:
        body = body[:end]
    body = bytes(c for c in body if c not in b" \t\r\n\x0c\x00")
    try:
        return base64.a85decode(body)
    except ValueError:
        return b""


def run_length_decode(data: bytes, cap: int) -> bytes:
    out = bytearray()
    i = 0
    n = len(data)
    while i < n and len(out) < cap:
        l = data[i]
        i += 1
        if l == 128:
            break
        if l < 128:
            out.extend(data[i : i + l + 1])
            i += l + 1
        else:
            if i < n:
                out.extend(bytes([data[i]]) * (257 - l))
                i += 1
    del out[cap:]
    return bytes(out)


def lzw_decode(data: bytes, cap: int) -> bytes:
    # Minimal LZW per PDF spec (early change = 1 default)
    out = bytearray()
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    bits, acc, code_len = 0, 0, 9
    prev: bytes | None = None
    eod = False
    for byte in data:
        if eod or len(out) >= cap:
            break
        acc = (acc << 8) | byte
        bits += 8
        while bits >= code_len:
            bits -= code_len
            code = (acc >> bits) & ((1 << code_len) - 1)
            if code == 256:
                table = [bytes([i]) for i in range(256)] + [b"", b""]
                code_len = 9
                prev = None
                continue
            if code == 257:  # end of data
                eod = True
                break
            if prev is None:
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            else:
                entry = prev + prev[:1]
                table.append(entry)
            out.extend(entry)
            prev = entry
            if len(table) + 1 >= (1 << code_len) and code_len < 12:
                code_len += 1
    del out[cap:]
    return bytes(out)


# name -> decoder(data, cap, warnings)
_DECODERS = {
    "FlateDecode": flate_decode,
    "ASCIIHexDecode": lambda d, cap, w: ascii_hex_decode(d),
    "ASCII85Decode": lambda d, cap, w: ascii85_decode(d),
    "RunLengthDecode": lambda d, cap, w: run_length_decode(d, cap),
    "LZWDecode": lambda d, cap, w: lzw_decode(d, cap),
}
_DECODERS.update({abbrev: _DECODERS[name] for abbrev, name in (
    ("Fl", "FlateDecode"), ("AHx", "ASCIIHexDecode"), ("A85", "ASCII85Decode"),
    ("RL", "RunLengthDecode"), ("LZW", "LZWDecode"))})
# the filters whose /DecodeParms may name a PNG predictor
_PREDICTOR_FILTERS = {"FlateDecode", "Fl", "LZWDecode", "LZW"}

# image-only filters we pass through undecoded (DCT/JPX/CCITT/JBIG2)
PASSTHROUGH_FILTERS = {"DCTDecode", "DCT", "JPXDecode", "CCITTFaxDecode", "CCF", "JBIG2Decode"}


def _decode_chain(doc, stm: Stream, cap: int) -> tuple[bytes, bool]:
    """Apply the /Filter chain with every stage held to `cap` output
    bytes. Returns the data and whether some stage reached `cap`; the data
    is then a prefix of the whole decoded stream."""
    resolve = doc.resolve
    data, cut = stm.raw, False
    filt = resolve(stm.dict.get("Filter"))
    filters = [] if filt is None else filt if isinstance(filt, list) else [filt]
    parms = resolve(stm.dict.get("DecodeParms") or stm.dict.get("DP"))
    parms_list = parms if isinstance(parms, list) else [parms] * len(filters)
    for f, p in zip(filters, parms_list):
        f = resolve(f)
        p = resolve(p)
        name = str(f) if f is not None else ""
        if name in PASSTHROUGH_FILTERS:
            break  # caller keeps encoded image data
        dec = _DECODERS.get(name)
        if dec is None:
            break  # unknown filter: lenient passthrough
        # after a cut, later stages end early because of it: no warning
        data = dec(data, cap, [] if cut else doc.warnings)
        if len(data) >= cap:
            data, cut = data[:cap], True
        if name in _PREDICTOR_FILTERS and isinstance(p, dict):
            data = _predict(data, p, cap)
    return data, cut


def decode_stream(doc, stm: Stream) -> bytes:
    """The decoded bytes of a stream (fonts, xref and object streams,
    colour lookups): no budget. `doc` gives `resolve` and `warnings`."""
    return _decode_chain(doc, stm, NO_CAP)[0]


def decode_content(doc, streams: list[Stream]) -> bytes:
    """Decoded content streams joined by \\n (a page's /Contents parts, or
    one form XObject); the filters make at most MAX_CONTENT_BYTES in all.
    Where the budget runs out, the content keeps the bytes decoded so far
    and `doc.warnings` gets one budget warning."""
    parts: list[bytes] = []
    left = MAX_CONTENT_BYTES
    for stm in streams:
        data, cut = _decode_chain(doc, stm, left + 1)
        if cut:
            parts.append(data[:left])
            doc.warnings.append(
                f"content budget: decoded content cut at {MAX_CONTENT_BYTES} bytes")
            break
        parts.append(data)
        if data is not stm.raw:  # no filter ran: the file's own bytes
            left -= len(data)
    return b"\n".join(parts)
