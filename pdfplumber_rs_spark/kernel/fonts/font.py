"""Font loading: widths / encoding / ToUnicode resolution chain.

Mirrors the reference's cached-font semantics
(crates/pdfplumber-parse/src/interpreter.rs:639-996, font_metrics.rs,
cid_font.rs): per-document cache, /Widths + /FirstChar, standard-14
fallback, FontDescriptor ascent/descent (descent sign-normalized),
CID /W + /DW, Identity-H handling, and the 5-step unicode chain.
"""

from __future__ import annotations

from ..filters import decode_stream
from ..objects import Name, Ref, Stream
from .cmap import ToUnicodeCMap, parse_tounicode
from .encodings import SimpleEncoding
from .cjk import codec_for_cmap
from .standard_fonts import lookup as lookup_standard
from .standard_fonts import lookup_metrics as lookup_afm_metrics

DEFAULT_ASCENT = 750.0
DEFAULT_DESCENT = -250.0
DEFAULT_WIDTH = 600.0
DEFAULT_CID_WIDTH = 1000.0


class LoadedFont:
    """Resolved font: everything the interpreter needs per char code."""

    __slots__ = (
        "base_name",
        "display_name",
        "cjk_codec",
        "cjk_lead_rule",
        "is_cid",
        "is_identity_encoding",
        "cid_ordering",
        "writing_mode",
        "widths",            # simple: list indexed from first_char
        "first_char",
        "last_char",
        "missing_width",
        "ascent",
        "descent",
        "cid_widths",        # dict cid -> width
        "cid_default_width",
        "cid_vertical",      # dict cid -> (w1y, vx, vy)  [/W2]
        "dw2_vy",            # /DW2[0] default 880
        "dw2_w1",            # /DW2[1] default -1000
        "cmap",              # ToUnicodeCMap | None
        "encoding",          # SimpleEncoding | None
        "gid_unicode",       # dict gid->str | None (embedded ttf cmap)
        "cid_gid",           # callable cid->gid | None
        "code_cache",        # per-font memo: code -> (width, unicode)
    )

    def __init__(self) -> None:
        self.base_name = "Unknown"
        self.display_name = "Unknown"
        self.cjk_codec: str | None = None
        self.cjk_lead_rule: str | None = None
        self.is_cid = False
        self.is_identity_encoding = False
        self.cid_ordering: str | None = None
        self.writing_mode = 0
        self.widths: list[float] = []
        self.first_char = 0
        self.last_char = 0
        self.missing_width = DEFAULT_WIDTH
        self.ascent = DEFAULT_ASCENT
        self.descent = DEFAULT_DESCENT
        self.cid_widths: dict[int, float] = {}
        self.cid_default_width = DEFAULT_CID_WIDTH
        self.cid_vertical: dict[int, tuple] = {}
        self.dw2_vy = 880.0
        self.dw2_w1 = -1000.0
        self.cmap: ToUnicodeCMap | None = None
        self.encoding: SimpleEncoding | None = None
        self.gid_unicode: dict[int, str] | None = None
        self.cid_gid = None
        self.code_cache: dict[int, tuple] = {}

    # -- widths -------------------------------------------------------------

    def get_width(self, code: int) -> float:
        if self.is_cid:
            if self.writing_mode == 1:
                return 1000.0
            return self.cid_widths.get(code, self.cid_default_width)
        if self.first_char <= code <= self.last_char:
            idx = code - self.first_char
            if idx < len(self.widths):
                return self.widths[idx]
        return self.missing_width

    # -- ascent/descent policy (interpreter.rs:1357-1395) -------------------

    def bbox_ascent_descent(self) -> tuple[float, float]:
        if self.is_cid and self.writing_mode == 1:
            return 1000.0, 0.0
        if self.ascent == 0.0 and self.descent == 0.0:
            return 1000.0, 0.0
        return 1000.0 + self.descent, self.descent

    # -- vertical metrics (cid_font.rs:227-262, PDF 9.7.4.3) -----------------

    def get_vertical_metric(self, cid: int) -> tuple[float, float, float]:
        """(w1y, vx, vy): /W2 override, else DW2/defaults — pdfminer uses
        a CONSTANT vx of half an em (500/1000 = fontsize*0.5) when /W2
        gives no position vector, NOT the spec's w0/2 (golden parity,
        pdfbox-3127-vfont). Deliberate divergence from the reference:
        cid_font.rs:227-262 uses default_width/2 (DW2 fallback) and
        hw/2 (vmtx path) — identical only when /DW is the default 1000.
        Our golden oracle is pdfplumber/pdfminer byte parity, so the
        constant half-em wins."""
        vm = self.cid_vertical.get(cid)
        if vm is not None:
            return vm
        return self.dw2_w1, 500.0, self.dw2_vy

    # -- unicode chain (interpreter.rs:1259-1339) ----------------------------

    def to_unicode(self, code: int) -> str | None:
        if self.cmap is not None:
            hit = self.cmap.lookup(code)
            if hit is not None:
                return hit
        if self.encoding is not None and code <= 255:
            hit = self.encoding.decode(code)
            if hit is not None:
                return hit
        if self.is_cid:
            # pdfminer: the Identity chr(code) shortcut applies only when
            # an EXPLICIT full-range identity ToUnicode exists
            identity_fallback = self.cmap is not None and self.cmap.is_identity()
            if identity_fallback:
                try:
                    return chr(code)
                except ValueError:
                    return None
            if self.cmap is None:
                # no usable ToUnicode: pdfminer resolves Adobe-Identity /
                # Adobe-UCS through the embedded TrueType cmap, and the
                # predefined orderings through Adobe's CID->UCS2 tables
                # (cid_font.rs + the generated adobe_*_ucs2 tables)
                # only under Identity encodings is code == CID; with a
                # predefined CMap (GBK-EUC…) the raw-byte charset decode
                # in _show is the unicode source, not these tables
                if self.gid_unicode is not None and self.is_identity_encoding:
                    gid = self.cid_gid(code) if self.cid_gid else code
                    hit = self.gid_unicode.get(gid)
                    if hit is not None:
                        return hit
                elif self.cid_ordering and self.is_identity_encoding:
                    from .cid_tables import cid_to_unicode

                    hit = cid_to_unicode(self.cid_ordering, code)
                    if hit is not None:
                        return hit
            return f"(cid:{code})"
        if self.encoding is not None:
            # simple font whose encoding has no glyph at this code:
            # pdfminer raises PDFUnicodeNotDefined → renders "(cid:N)"
            return f"(cid:{code})"
        try:
            return chr(code)
        except ValueError:
            return None


def _f(v, default=0.0) -> float:
    return float(v) if isinstance(v, (int, float)) else default


def load_font(doc, font_obj) -> LoadedFont:
    """Load a font from a font dictionary (lazily, per /Tf)."""
    font = LoadedFont()
    fd = doc.resolve(font_obj)
    if not isinstance(fd, dict):
        return font
    base = doc.resolve(fd.get("BaseFont"))
    font.base_name = str(base) if base is not None else "Unknown"
    font.display_name = font.base_name
    subtype = str(doc.resolve(fd.get("Subtype")) or "")

    if subtype == "Type0":
        _load_type0(doc, fd, font)
    else:
        _load_simple(doc, fd, font, subtype)

    # ToUnicode applies to both
    tu = doc.resolve(fd.get("ToUnicode"))
    if isinstance(tu, Stream):
        try:
            font.cmap = parse_tounicode(decode_stream(doc, tu))
        except Exception:  # lenient
            font.cmap = None
        if font.cmap is not None and not font.cmap.single and not font.cmap.ranges:
            # EMPTY ToUnicode (e.g. an Identity-H CMap with cidranges but
            # no bf entries, pdfbox-4322): pdfminer substitutes an
            # IdentityUnicodeMap when anything about the font says
            # Identity; otherwise treated as absent
            if font.is_cid and font.cid_ordering in ("Identity", "UCS"):
                ident = ToUnicodeCMap()
                ident.ranges.append((0, 0xFFFF, 0, None))
                ident.codespace_nbytes = 2
                font.cmap = ident
            # else: KEEP the empty cmap — pdfminer still considers the
            # font "has a ToUnicode" and never falls back to the Adobe
            # ordering tables (pdfjs/issue7696: Japan1 ordering + empty
            # ToUnicode renders (cid:N), not table hits)
    if font.is_cid and font.cmap is None and font.cid_ordering in ("Identity", "UCS"):
        # Adobe-Identity ordering carries no CID semantics; pdfminer
        # recovers unicode from the embedded TrueType cmap (gid->unichr)
        desc_fonts = doc.resolve(fd.get("DescendantFonts"))
        if isinstance(desc_fonts, list) and desc_fonts:
            df = doc.resolve(desc_fonts[0])
            if isinstance(df, dict):
                data = _fontfile_bytes(doc, df, "FontFile2")
                if data:
                    from .truetype import parse_truetype_unicode_map

                    font.gid_unicode = parse_truetype_unicode_map(data)
                    if font.gid_unicode is not None:
                        font.cid_gid = _cid_to_gid_map(doc, df)
    return font


def _descriptor_font_name(doc, fd: dict) -> str | None:
    desc = doc.resolve(fd.get("FontDescriptor"))
    if isinstance(desc, dict):
        fn = doc.resolve(desc.get("FontName"))
        if fn is not None:
            return str(fn)
    return None


def _load_simple(doc, fd: dict, font: LoadedFont, subtype: str = "") -> None:
    dn = _descriptor_font_name(doc, fd)
    if dn:
        font.display_name = dn
    font.first_char = int(_f(doc.resolve(fd.get("FirstChar")), 0))
    font.last_char = int(_f(doc.resolve(fd.get("LastChar")), 0))
    widths_obj = doc.resolve(fd.get("Widths"))
    widths: list[float] = []
    if isinstance(widths_obj, list):
        widths = [_f(doc.resolve(w)) for w in widths_obj]

    asc, desc, missing, had_descriptor = _descriptor_metrics(doc, fd)

    if not widths:
        std = lookup_standard(font.base_name)
        if std is not None:
            widths = [float(w) for w in std[0]]
            font.first_char, font.last_char = 0, 255
    if not widths:
        # embedded-font fallback ladder (font_metrics.rs:185-226): the
        # real-world corpus is full of subsetted fonts with no /Widths —
        # TrueType hmtx (FontFile2) then CFF charstrings (FontFile3),
        # glyph id == char code for simple fonts, indexed from 0
        emb = _embedded_widths(doc, fd)
        if emb is not None:
            widths = emb
            font.first_char, font.last_char = 0, len(emb) - 1
    if not had_descriptor and subtype != "TrueType":
        # No /FontDescriptor: pdfminer's PDFType1Font falls back to the
        # built-in AFM ascent/descent for standard-14 fonts (golden
        # parity), then the 750/-250 defaults. PDFTrueTypeFont has NO
        # such fallback — it keeps ascent=descent=0, which our
        # bbox_ascent_descent policy maps to (1000, 0).
        afm = lookup_afm_metrics(font.base_name)
        if afm is not None:
            asc, desc = afm
    elif not had_descriptor and subtype == "TrueType":
        asc, desc = 0.0, 0.0
    font.widths = widths
    if widths and font.last_char < font.first_char:
        font.last_char = font.first_char + len(widths) - 1
    font.ascent, font.descent, font.missing_width = asc, desc, missing

    # /Encoding: name or dict with /BaseEncoding + /Differences
    enc = doc.resolve(fd.get("Encoding"))
    if isinstance(enc, Name):
        font.encoding = SimpleEncoding(str(enc))
    elif isinstance(enc, dict):
        base_enc = enc.get("BaseEncoding")
        diffs = doc.resolve(enc.get("Differences"))
        font.encoding = SimpleEncoding(
            str(base_enc) if base_enc is not None else None,
            diffs if isinstance(diffs, list) else None,
        )
    else:
        # no /Encoding: pdfminer defaults non-symbolic simple fonts to
        # StandardEncoding (0x27 → quoteright ’, 0x60 → quoteleft ‘);
        # Symbol/ZapfDingbats keep the chr(code) fallback
        if font.base_name not in ("Symbol", "ZapfDingbats"):
            font.encoding = SimpleEncoding("StandardEncoding")


def _load_type0(doc, fd: dict, font: LoadedFont) -> None:
    font.is_cid = True
    enc = doc.resolve(fd.get("Encoding"))
    enc_name = str(enc) if isinstance(enc, Name) else ""
    if enc_name in ("Identity-H", "Identity-V"):
        font.is_identity_encoding = True
    if enc_name.endswith("-V") or enc_name == "V":
        font.writing_mode = 1
    if enc_name and not font.is_identity_encoding:
        hit = codec_for_cmap(enc_name)
        if hit is not None:
            font.cjk_codec, font.cjk_lead_rule = hit

    desc_fonts = doc.resolve(fd.get("DescendantFonts"))
    if isinstance(desc_fonts, list) and desc_fonts:
        df = doc.resolve(desc_fonts[0])
        if isinstance(df, dict):
            dn = _descriptor_font_name(doc, df)
            if dn:
                font.display_name = dn
            font.cid_default_width = _f(doc.resolve(df.get("DW")), DEFAULT_CID_WIDTH)
            w_arr = doc.resolve(df.get("W"))
            if isinstance(w_arr, list):
                font.cid_widths = _parse_w_array(doc, w_arr)
            asc, desc, _missing, _had = _descriptor_metrics(doc, df)
            font.ascent, font.descent = asc, desc
            # vertical metrics: /DW2 [vy w1], /W2 overrides, and the
            # embedded vmtx table (via /CIDToGIDMap) when /W2 is absent
            # (cid_font.rs:440-478; W2/DW2 take precedence over vmtx)
            dw2 = doc.resolve(df.get("DW2"))
            if isinstance(dw2, list) and len(dw2) >= 2:
                vy = doc.resolve(dw2[0])
                w1 = doc.resolve(dw2[1])
                if isinstance(vy, (int, float)):
                    font.dw2_vy = float(vy)
                if isinstance(w1, (int, float)):
                    font.dw2_w1 = float(w1)
            w2 = doc.resolve(df.get("W2"))
            if isinstance(w2, list):
                font.cid_vertical = _parse_w2_array(
                    doc, w2, font.cid_default_width, font.dw2_vy, font.dw2_w1)
            if not font.cid_vertical and font.writing_mode == 1:
                vm = _vmtx_vertical_metrics(doc, df, font)
                if vm:
                    font.cid_vertical = vm
            sysinfo = doc.resolve(df.get("CIDSystemInfo"))
            if isinstance(sysinfo, dict):
                ordering = doc.resolve(sysinfo.get("Ordering"))
                if isinstance(ordering, bytes):
                    font.cid_ordering = ordering.decode("latin-1")
                elif ordering is not None:
                    font.cid_ordering = str(ordering)


def _parse_w_array(doc, w_arr: list) -> dict[int, float]:
    """Parse /W: [c [w1 w2 ...]] or [c_first c_last w]."""
    out: dict[int, float] = {}
    i = 0
    n = len(w_arr)
    while i < n:
        first = doc.resolve(w_arr[i])
        if not isinstance(first, (int, float)):
            i += 1
            continue
        if i + 1 < n:
            second = doc.resolve(w_arr[i + 1])
            if isinstance(second, list):
                for k, w in enumerate(second):
                    w = doc.resolve(w)
                    if isinstance(w, (int, float)):
                        out[int(first) + k] = float(w)
                i += 2
                continue
            if isinstance(second, (int, float)) and i + 2 < n:
                w = doc.resolve(w_arr[i + 2])
                if isinstance(w, (int, float)):
                    lo, hi = int(first), int(second)
                    if 0 <= lo <= hi and hi - lo < 65536:
                        for c in range(lo, hi + 1):
                            out[c] = float(w)
                i += 3
                continue
        i += 1
    return out


def _fontfile_bytes(doc, fd: dict, key: str) -> bytes | None:
    """Decoded /FontFile2 or /FontFile3 stream from the descriptor."""
    desc = doc.resolve(fd.get("FontDescriptor"))
    if not isinstance(desc, dict):
        return None
    ff = doc.resolve(desc.get(key))
    if not isinstance(ff, Stream):
        return None
    try:
        return decode_stream(doc, ff)
    except Exception:  # noqa: BLE001 — lenient
        return None


def _embedded_widths(doc, fd: dict) -> list[float] | None:
    """TrueType hmtx (truetype.rs:160-210) then CFF charstring widths
    (cff.rs:38-99); per-glyph, 1000 units/em."""
    data = _fontfile_bytes(doc, fd, "FontFile2")
    if data is not None:
        from .truetype import parse_truetype_widths

        w = parse_truetype_widths(data)
        if w:
            return w
    data = _fontfile_bytes(doc, fd, "FontFile3")
    if data is not None:
        from .cff import parse_cff_widths

        w = parse_cff_widths(data)
        if w:
            return w
    return None


def _parse_w2_array(doc, w2: list, default_w: float, dw2_vy: float,
                    dw2_w1: float) -> dict[int, tuple]:
    """Parse /W2 (cid_font.rs:321-386, PDF 9.7.4.3):
    [c [w1y vx vy ...]] or [c_first c_last w1y vx vy]."""
    out: dict[int, tuple] = {}
    i = 0
    n = len(w2)
    while i < n:
        first = doc.resolve(w2[i])
        if not isinstance(first, (int, float)):
            i += 1
            continue
        cid_start = int(first)
        i += 1
        if i >= n:
            break
        second = doc.resolve(w2[i])
        if isinstance(second, list):
            j = 0
            cid = cid_start
            while j + 3 <= len(second):
                w1y = doc.resolve(second[j])
                vx = doc.resolve(second[j + 1])
                vy = doc.resolve(second[j + 2])
                out[cid] = (
                    float(w1y) if isinstance(w1y, (int, float)) else dw2_w1,
                    float(vx) if isinstance(vx, (int, float)) else default_w / 2.0,
                    float(vy) if isinstance(vy, (int, float)) else dw2_vy,
                )
                cid += 1
                j += 3
            i += 1
        elif isinstance(second, (int, float)) and i + 3 < n:
            cid_end = int(second)
            w1y = doc.resolve(w2[i + 1])
            vx = doc.resolve(w2[i + 2])
            vy = doc.resolve(w2[i + 3])
            metric = (
                float(w1y) if isinstance(w1y, (int, float)) else dw2_w1,
                float(vx) if isinstance(vx, (int, float)) else default_w / 2.0,
                float(vy) if isinstance(vy, (int, float)) else dw2_vy,
            )
            if 0 <= cid_start <= cid_end and cid_end - cid_start < 65536:
                for cid in range(cid_start, cid_end + 1):
                    out[cid] = metric
            i += 4
        else:
            i += 1
    return out


def _cid_to_gid_map(doc, df: dict):
    """CIDToGIDMap (cid_font.rs:480-): 'Identity' (or absent) → cid==gid;
    a stream of big-endian u16 per CID otherwise. Returns a callable."""
    m = doc.resolve(df.get("CIDToGIDMap"))
    if isinstance(m, Stream):
        try:
            data = decode_stream(doc, m)
        except Exception:  # noqa: BLE001
            return lambda cid: cid
        def lookup(cid: int) -> int:
            off = cid * 2
            if off + 2 <= len(data):
                return (data[off] << 8) | data[off + 1]
            return 0
        return lookup
    return lambda cid: cid


def _vmtx_vertical_metrics(doc, df: dict, font: LoadedFont) -> dict[int, tuple]:
    """vmtx fallback for CIDFontType2 vertical fonts when /W2 is absent
    (cid_font.rs:595-640): advance heights per glyph via CIDToGIDMap;
    vertical advances are negative (downward)."""
    data = _fontfile_bytes(doc, df, "FontFile2")
    if data is None:
        return {}
    from .truetype import parse_truetype_vertical_metrics

    heights = parse_truetype_vertical_metrics(data)
    if not heights:
        return {}
    gid_of = _cid_to_gid_map(doc, df)
    out: dict[int, tuple] = {}
    for cid in range(len(heights)):
        gid = gid_of(cid)
        if gid < len(heights):
            w1y = -heights[gid]
            out[cid] = (w1y, 500.0, font.dw2_vy)
    return out


def _descriptor_metrics(doc, fd: dict) -> tuple[float, float, float, bool]:
    """(ascent, descent, missing_width, had_descriptor) from /FontDescriptor.

    Descent sign-normalized to negative (font_metrics.rs:373-382)."""
    desc = doc.resolve(fd.get("FontDescriptor"))
    if not isinstance(desc, dict):
        return DEFAULT_ASCENT, DEFAULT_DESCENT, DEFAULT_WIDTH, False
    ascent = _f(doc.resolve(desc.get("Ascent")), DEFAULT_ASCENT)
    raw_descent = _f(doc.resolve(desc.get("Descent")), DEFAULT_DESCENT)
    descent = -raw_descent if raw_descent > 0.0 else raw_descent
    missing = _f(doc.resolve(desc.get("MissingWidth")), DEFAULT_WIDTH)
    return ascent, descent, missing, True
