"""Deterministic programmatic PDF builders (classic xref, uncompressed).

Fixture shapes mirror the reference's bench corpus
(crates/pdfplumber/benches/extraction.rs:97-229): text pages
(`BT /F1 10 Tf 72 720 Td (...) Tj 0 -14 Td ... ET`), lattice grids
(m/l/S strokes + 8pt labels), stream grids (text-only), complex pages,
and multi-page variants. MediaBox 612x792, Helvetica/Courier.

These builders are the only 'data generator' in the engine: tests and
benches synthesize the Common-Crawl-shaped input table
(url, warc_ts, html=pdf bytes, text, lang) from /root/testdata documents.
"""

from __future__ import annotations

PAGE_W = 612.0
PAGE_H = 792.0
TOP_Y = 720.0
LEADING = 14.0


def escape_pdf_text(s: str) -> str:
    """Escape for a PDF literal string; latin-1-encodable input only."""
    return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")


def sanitize_for_pdf(s: str) -> str:
    """Map text to the WinAnsi-safe subset our builder can embed:
    printable latin-1, newline kept as line separator."""
    out = []
    for ch in s:
        o = ord(ch)
        if ch == "\n" or 0x20 <= o <= 0x7E or 0xA1 <= o <= 0xFF:
            out.append(ch)
        elif ch == "\t":
            out.append(" ")
        # other chars dropped (cannot round-trip through WinAnsi builder)
    return "".join(out)


def _obj(num: int, body: bytes) -> bytes:
    return f"{num} 0 obj\n".encode() + body + b"\nendobj\n"


def build_pdf(page_contents: list[bytes], fonts: dict[str, str] | None = None,
              page_annots: list[str] | None = None,
              info: dict[str, str] | None = None,
              bookmarks: list[tuple[str, int]] | None = None,
              form_fields: list[dict] | None = None,
              struct_mcids: list[int] | None = None,
              page_rotations: list[int] | None = None) -> bytes:
    """Assemble a classic-xref PDF. `fonts` maps resource name -> BaseFont
    (standard-14). Default: F1=Helvetica, F2=Courier. `page_annots` is an
    optional per-page raw /Annots array body (inline annotation dicts).
    `info` -> /Info dictionary in the trailer. `bookmarks` is a flat list
    of (title, page_idx) -> a real /Outlines chain with XYZ destinations.
    `form_fields` is a list of {name, value, page, rect?} -> indirect
    /Widget field objects referenced from both the page /Annots and the
    catalog /AcroForm /Fields (text fields, FT=Tx). `struct_mcids` gives
    the marked-content count per page -> a /StructTreeRoot with a
    Document root and one P element per (page, mcid). `page_rotations`
    gives a /Rotate value per page (0 writes no /Rotate key)."""
    if fonts is None:
        fonts = {"F1": "Helvetica", "F2": "Courier"}
    bookmarks = bookmarks or []
    form_fields = form_fields or []
    struct_mcids = struct_mcids or []
    # embedded fonts: dict values are specs {base, subtype, program,
    # program_key ('FontFile2'|'FontFile3'), file_subtype?, ascent?,
    # descent?} — each needs a FontDescriptor + font-program stream.
    # Type0 composite fonts: {base, cid_encoding, cid_subtype?, dw?,
    # w?} — one descendant CIDFont object.
    embedded = {n: v for n, v in fonts.items()
                if isinstance(v, dict) and "cid_encoding" not in v}
    type0 = {n: v for n, v in fonts.items()
             if isinstance(v, dict) and "cid_encoding" in v}

    objects: list[bytes] = []
    n_pages = len(page_contents)
    # object numbering: 1=Catalog, 2=Pages, then per page: page obj + content
    # obj, then font objects, then outline root + items, form fields, /Info,
    # then StructTreeRoot + Document root + one P element per (page, mcid).
    catalog_num = 1
    pages_num = 2
    first_page = 3
    font_start = first_page + 2 * n_pages
    font_nums = {name: font_start + i for i, name in enumerate(fonts)}
    extra = font_start + len(fonts)
    outline_root = extra if bookmarks else 0
    item_start = extra + 1
    field_start = item_start + len(bookmarks) if bookmarks else extra
    info_num = field_start + len(form_fields) if info else 0
    n_elems = sum(struct_mcids)
    struct_root = (info_num or field_start + len(form_fields) - 1) + 1 \
        if n_elems else 0
    doc_elem = struct_root + 1
    elem_start = struct_root + 2
    # embedded-font descriptor + program objects go last
    last_num = extra - 1
    if bookmarks:
        last_num = item_start + len(bookmarks) - 1
    if form_fields:
        last_num = field_start + len(form_fields) - 1
    if info:
        last_num = info_num
    if n_elems:
        last_num = elem_start + n_elems - 1
    emb_nums = {name: (last_num + 1 + 2 * i, last_num + 2 + 2 * i)
                for i, name in enumerate(embedded)}
    t0_start = last_num + 2 * len(embedded) + 1
    type0_nums = {name: t0_start + i for i, name in enumerate(type0)}

    def page_ref(idx: int) -> str:
        return f"{first_page + 2 * idx} 0 R"

    kids = " ".join(page_ref(i) for i in range(n_pages))
    catalog = "<< /Type /Catalog /Pages 2 0 R"
    if bookmarks:
        catalog += f" /Outlines {outline_root} 0 R"
    if form_fields:
        field_refs = " ".join(
            f"{field_start + i} 0 R" for i in range(len(form_fields))
        )
        catalog += f" /AcroForm << /Fields [{field_refs}] >>"
    if n_elems:
        catalog += (f" /StructTreeRoot {struct_root} 0 R"
                    " /MarkInfo << /Marked true >>")
    catalog += " >>"
    objects.append(_obj(catalog_num, catalog.encode()))
    objects.append(
        _obj(
            pages_num,
            f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>".encode(),
        )
    )
    # widget refs per page (merged into /Annots alongside inline annots)
    widgets_by_page: dict[int, list[str]] = {}
    for i, fld in enumerate(form_fields):
        widgets_by_page.setdefault(int(fld.get("page", 0)), []).append(
            f"{field_start + i} 0 R"
        )
    font_res = " ".join(f"/{n} {font_nums[n]} 0 R" for n in fonts)
    for i, content in enumerate(page_contents):
        pnum = first_page + 2 * i
        cnum = pnum + 1
        annot_parts = []
        if page_annots and i < len(page_annots) and page_annots[i]:
            annot_parts.append(page_annots[i])
        annot_parts.extend(widgets_by_page.get(i, []))
        rot = page_rotations[i] if page_rotations else 0
        objects.append(
            _obj(
                pnum,
                (
                    f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 {PAGE_W:g} {PAGE_H:g}] "
                    f"/Resources << /Font << {font_res} >> >> /Contents {cnum} 0 R"
                    + (f" /Annots [{' '.join(annot_parts)}]" if annot_parts else "")
                    + (f" /Rotate {rot}" if rot else "")
                    + " >>"
                ).encode(),
            )
        )
        objects.append(
            _obj(
                cnum,
                f"<< /Length {len(content)} >>\nstream\n".encode()
                + content
                + b"\nendstream",
            )
        )
    for name, base in fonts.items():
        if isinstance(base, dict) and "cid_encoding" in base:
            body = (
                f"<< /Type /Font /Subtype /Type0 "
                f"/BaseFont /{base['base']} "
                f"/Encoding /{base['cid_encoding']} "
                f"/DescendantFonts [{type0_nums[name]} 0 R] >>"
            )
            objects.append(_obj(font_nums[name], body.encode()))
            continue
        if isinstance(base, dict):
            desc_num, _file_num = emb_nums[name]
            subtype = base.get("subtype", "TrueType")
            body = (
                f"<< /Type /Font /Subtype /{subtype} "
                f"/BaseFont /{base['base']} "
                f"/Encoding /WinAnsiEncoding "
                f"/FontDescriptor {desc_num} 0 R >>"
            )
            objects.append(_obj(font_nums[name], body.encode()))
            continue
        objects.append(
            _obj(
                font_nums[name],
                (
                    f"<< /Type /Font /Subtype /Type1 /BaseFont /{base} "
                    f"/Encoding /WinAnsiEncoding >>"
                ).encode(),
            )
        )
    if bookmarks:
        objects.append(
            _obj(
                outline_root,
                (
                    f"<< /Type /Outlines /First {item_start} 0 R "
                    f"/Last {item_start + len(bookmarks) - 1} 0 R "
                    f"/Count {len(bookmarks)} >>"
                ).encode(),
            )
        )
        for i, (title, page_idx) in enumerate(bookmarks):
            body = (
                f"<< /Title ({escape_pdf_text(title)}) /Parent {outline_root} 0 R "
                f"/Dest [{page_ref(page_idx)} /XYZ 0 {PAGE_H:g} 0]"
            )
            if i > 0:
                body += f" /Prev {item_start + i - 1} 0 R"
            if i < len(bookmarks) - 1:
                body += f" /Next {item_start + i + 1} 0 R"
            body += " >>"
            objects.append(_obj(item_start + i, body.encode()))
    for i, fld in enumerate(form_fields):
        rect = fld.get("rect", (400.0, 50.0, 500.0, 70.0))
        page_idx = int(fld.get("page", 0))
        ftype = fld.get("ftype", "Tx")
        if "raw_value" in fld:
            v = fld["raw_value"]  # raw dict body, e.g. a /Sig value
        else:
            v = f"({escape_pdf_text(fld.get('value', ''))})"
        objects.append(
            _obj(
                field_start + i,
                (
                    f"<< /Type /Annot /Subtype /Widget /FT /{ftype} "
                    f"/T ({escape_pdf_text(fld['name'])}) "
                    f"/V {v} "
                    f"/Rect [{rect[0]:g} {rect[1]:g} {rect[2]:g} {rect[3]:g}] "
                    f"/P {page_ref(page_idx)} >>"
                ).encode(),
            )
        )
    if info:
        body = " ".join(
            f"/{k} ({escape_pdf_text(str(v))})" for k, v in info.items()
        )
        objects.append(_obj(info_num, f"<< {body} >>".encode()))
    if n_elems:
        objects.append(
            _obj(struct_root,
                 f"<< /Type /StructTreeRoot /K {doc_elem} 0 R >>".encode())
        )
        elem_refs = " ".join(f"{elem_start + i} 0 R" for i in range(n_elems))
        objects.append(
            _obj(doc_elem,
                 (f"<< /S /Document /P {struct_root} 0 R "
                  f"/K [{elem_refs}] >>").encode())
        )
        k = 0
        for pidx, n_mc in enumerate(struct_mcids):
            for mcid in range(n_mc):
                objects.append(
                    _obj(elem_start + k,
                         (f"<< /S /P /P {doc_elem} 0 R "
                          f"/Pg {page_ref(pidx)} /K {mcid} >>").encode())
                )
                k += 1
    for name, spec in embedded.items():
        desc_num, file_num = emb_nums[name]
        pk = spec.get("program_key", "FontFile2")
        desc = (
            f"<< /Type /FontDescriptor /FontName /{spec['base']} "
            f"/Flags {spec.get('flags', 32)} "
            f"/Ascent {spec.get('ascent', 800):g} "
            f"/Descent {spec.get('descent', -200):g} "
            f"/FontBBox [0 -200 1000 800] /ItalicAngle 0 /StemV 80 "
            f"/{pk} {file_num} 0 R >>"
        )
        objects.append(_obj(desc_num, desc.encode()))
        program = spec["program"]
        extra_keys = ""
        if spec.get("file_subtype"):
            extra_keys = f" /Subtype /{spec['file_subtype']}"
        objects.append(
            _obj(
                file_num,
                (f"<< /Length {len(program)}"
                 f" /Length1 {len(program)}{extra_keys} >>\nstream\n").encode()
                + program + b"\nendstream",
            )
        )
    for name, spec in type0.items():
        registry = spec.get("registry", "Adobe")
        ordering = spec.get("ordering", "GB1")
        body = (
            f"<< /Type /Font /Subtype /{spec.get('cid_subtype', 'CIDFontType0')} "
            f"/BaseFont /{spec['base']} "
            f"/CIDSystemInfo << /Registry ({registry}) /Ordering ({ordering}) "
            f"/Supplement {spec.get('supplement', 5)} >> "
            f"/DW {spec.get('dw', 1000):g}"
            + (f" /W {spec['w']}" if spec.get("w") else "")
            + " >>"
        )
        objects.append(_obj(type0_nums[name], body.encode()))

    header = b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n"
    out = bytearray(header)
    offsets = [0]  # object 0 is the free head
    for num, objbytes in enumerate(objects, start=1):
        offsets.append(len(out))
        out.extend(objbytes)
    xref_pos = len(out)
    n_objs = len(objects) + 1
    out.extend(f"xref\n0 {n_objs}\n".encode())
    out.extend(b"0000000000 65535 f \n")
    for off in offsets[1:]:
        out.extend(f"{off:010d} 00000 n \n".encode())
    trailer = f"<< /Size {n_objs} /Root 1 0 R"
    if info:
        trailer += f" /Info {info_num} 0 R"
    trailer += " >>"
    out.extend(f"trailer\n{trailer}\nstartxref\n{xref_pos}\n".encode())
    out.extend(b"%%EOF\n")
    return bytes(out)


# -- content-stream builders ---------------------------------------------------

def text_page_content(lines: list[str], font: str = "F2", size: float = 10.0,
                      x: float = 72.0, y: float = TOP_Y, mcid: bool = False,
                      fill_rgb: tuple | None = None,
                      stroke_rgb: tuple | None = None) -> bytes:
    """`BT /F 10 Tf x y Td (line) Tj 0 -14 Td ... ET` like the bench fixture.
    With mcid=True every line is wrapped in `/P << /MCID i >> BDC ... EMC`
    (marked content; chars get mcid/tag set — interpreter.rs:559-571).
    fill_rgb/stroke_rgb emit `r g b rg` / `r g b RG` color operators so
    chars carry non-stroking/stroking colors (text.rs:23-25)."""
    parts = []
    if fill_rgb is not None:
        parts.append(
            f"{fill_rgb[0]:g} {fill_rgb[1]:g} {fill_rgb[2]:g} rg".encode())
    if stroke_rgb is not None:
        parts.append(
            f"{stroke_rgb[0]:g} {stroke_rgb[1]:g} {stroke_rgb[2]:g} RG".encode())
    parts.append(f"BT /{font} {size:g} Tf {x:g} {y:g} Td".encode())
    for i, line in enumerate(lines):
        if i > 0:
            parts.append(f"0 {-LEADING:g} Td".encode())
        tj = b"(" + escape_pdf_text(line).encode("latin-1", "replace") + b") Tj"
        if mcid:
            tj = f"/P << /MCID {i} >> BDC\n".encode() + tj + b"\nEMC"
        parts.append(tj)
    parts.append(b"ET")
    return b"\n".join(parts)


def cjk_text_page_content(lines: list[str]) -> bytes:
    """Text shown through a 2-byte CMap font: each line is a UTF-16BE
    HEX string (`<4E2D6587> Tj`) — the code bytes ARE UCS-2, matching
    the UniXX-UCS2/UTF16 predefined CMaps."""
    parts = [f"BT /FC 10 Tf 72 {TOP_Y:g} Td".encode()]
    for i, line in enumerate(lines):
        if i > 0:
            parts.append(f"0 {-LEADING:g} Td".encode())
        parts.append(
            b"<" + line.encode("utf-16-be").hex().encode() + b"> Tj")
    parts.append(b"ET")
    return b"\n".join(parts)


def cid_text_page_content(cid_lines: list[list[int]]) -> bytes:
    """Text shown through Identity-H: each line is a hex string of raw
    2-byte CIDs (`<034B...> Tj`) — unicode must come from the Adobe
    CID->UCS2 ordering tables (cid_font.rs, fonts/cid_tables.py)."""
    parts = [f"BT /FJ 10 Tf 72 {TOP_Y:g} Td".encode()]
    for i, cids in enumerate(cid_lines):
        if i > 0:
            parts.append(f"0 {-LEADING:g} Td".encode())
        hexstr = "".join(f"{cid:04X}" for cid in cids)
        parts.append(b"<" + hexstr.encode() + b"> Tj")
    parts.append(b"ET")
    return b"\n".join(parts)


def inline_image_content(x: float, y: float, w: float, h: float) -> bytes:
    """`q w 0 0 h x y cm BI ... ID <gray bytes> EI Q` inline image
    (tokenizer.rs:681-790); bbox = CTM unit-square transform."""
    data = bytes((17 * (i + 1)) % 256 for i in range(4))  # 2x2 gray
    return (
        f"q {w:g} 0 0 {h:g} {x:g} {y:g} cm\n"
        "BI /W 2 /H 2 /CS /G /BPC 8 /F /AHx ID\n".encode()
        + data.hex().encode() + b">\nEI Q"
    )


def lattice_table_content(rows: int, cols: int, x0: float = 72.0,
                          top_y: float = TOP_Y, cell_w: float = 80.0,
                          cell_h: float = 20.0, label: str = "R{r}C{c}") -> bytes:
    """Bordered grid: m/l/S strokes + 8pt Helvetica cell labels."""
    parts = [b"0.5 w"]
    y1 = top_y
    y0 = top_y - rows * cell_h
    x1 = x0 + cols * cell_w
    for r in range(rows + 1):
        y = top_y - r * cell_h
        parts.append(f"{x0:g} {y:g} m {x1:g} {y:g} l S".encode())
    for c in range(cols + 1):
        x = x0 + c * cell_w
        parts.append(f"{x:g} {y0:g} m {x:g} {y1:g} l S".encode())
    for r in range(rows):
        for c in range(cols):
            tx = x0 + c * cell_w + 4
            ty = top_y - r * cell_h - 12
            txt = escape_pdf_text(label.format(r=r, c=c))
            parts.append(
                f"BT /F1 8 Tf {tx:g} {ty:g} Td ({txt}) Tj ET".encode()
            )
    return b"\n".join(parts)


def stream_table_content(rows: int, cols: int,
                         label: str = "Data-{r}-{c}") -> bytes:
    """Text-only aligned grid (stream-strategy fixture): columns 100pt
    apart, rows 16pt apart."""
    parts = []
    for r in range(rows):
        for c in range(cols):
            tx = 72.0 + c * 100.0
            ty = TOP_Y - r * 16.0
            txt = escape_pdf_text(label.format(r=r, c=c))
            parts.append(f"BT /F2 9 Tf {tx:g} {ty:g} Td ({txt}) Tj ET".encode())
    return b"\n".join(parts)


def complex_page_content() -> bytes:
    """Courier header + 15 Helvetica lines + 5x4 lattice table."""
    parts = [
        text_page_content(["Q3 FINANCIAL REPORT"], font="F2", size=14.0, y=750.0),
        text_page_content(
            [f"Paragraph line {i} with some filler words here." for i in range(15)],
            font="F1", size=10.0, y=710.0,
        ),
        lattice_table_content(5, 4, top_y=470.0),
    ]
    return b"\n".join(parts)


# -- document-level fixtures -----------------------------------------------------

def pdf_from_text(text: str, lines_per_page: int = 48,
                  annots: str | None = None, mcid: bool = False,
                  page1_extra: bytes | None = None,
                  info: dict[str, str] | None = None,
                  bookmarks_per_page: str | None = None,
                  form_fields: list[dict] | None = None) -> bytes:
    """Render arbitrary text (sanitized to WinAnsi) as a multi-page PDF,
    one source line per rendered line. `annots` and `page1_extra`
    (extra raw content, e.g. an inline image) go on page 1;
    `bookmarks_per_page` is a title template with {p} (1-based)."""
    lines = sanitize_for_pdf(text).split("\n")
    pages = [
        text_page_content(lines[i : i + lines_per_page], mcid=mcid)
        for i in range(0, max(len(lines), 1), lines_per_page)
    ]
    if page1_extra:
        pages[0] = page1_extra + b"\n" + pages[0]
    bms = None
    if bookmarks_per_page:
        bms = [(bookmarks_per_page.format(p=p + 1), p) for p in range(len(pages))]
    struct_mcids = None
    if mcid:
        struct_mcids = [
            len(lines[i : i + lines_per_page])
            for i in range(0, max(len(lines), 1), lines_per_page)
        ]
    return build_pdf(pages, page_annots=[annots] if annots else None,
                     info=info, bookmarks=bms, form_fields=form_fields,
                     struct_mcids=struct_mcids)


def fixture_text(n_lines: int = 10) -> bytes:
    return build_pdf([
        text_page_content([f"Line {i} of synthetic benchmark text" for i in range(n_lines)])
    ])


def fixture_lattice(rows: int = 20, cols: int = 5) -> bytes:
    return build_pdf([lattice_table_content(rows, cols, cell_w=90.0, cell_h=25.0)])


def fixture_stream(rows: int = 20, cols: int = 5) -> bytes:
    return build_pdf([stream_table_content(rows, cols)])


def fixture_complex(n_pages: int = 10) -> bytes:
    return build_pdf([complex_page_content() for _ in range(n_pages)])


def fixture_multipage(n_pages: int = 10, lines_per_page: int = 30) -> bytes:
    return build_pdf([
        text_page_content(
            [f"Page {p} line {i} lorem ipsum dolor" for i in range(lines_per_page)]
        )
        for p in range(n_pages)
    ])


# -- embedded font program builders ------------------------------------------------

def build_truetype_font(advances: list[int], units_per_em: int = 1000) -> bytes:
    """Minimal valid sfnt with head/hhea/maxp/hmtx — enough for a parser
    to recover per-glyph advance widths (the shape the reference's bench
    corpus subsetted fonts have). advances are in font design units."""
    import struct as _s

    n = len(advances)
    head = _s.pack(">IIIIHHqqhhhhHHhhh",
                   0x00010000, 0, 0, 0x5F0F3CF5, 0, units_per_em,
                   0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
    hhea = _s.pack(">IhhhHhhhhhhhhhhhH",
                   0x00010000, 800, -200, 0, 0, 0, 0, 0, 0, 0, 0, 0,
                   0, 0, 0, 0, n)
    maxp = _s.pack(">IH", 0x00005000, n)  # version 0.5
    hmtx = b"".join(_s.pack(">Hh", int(a), 0) for a in advances)
    tables = [(b"head", head), (b"hhea", hhea), (b"hmtx", hmtx),
              (b"maxp", maxp)]
    num = len(tables)
    out = bytearray(_s.pack(">IHHHH", 0x00010000, num, 0, 0, 0))
    directory_size = 12 + num * 16
    offset = directory_size
    body = bytearray()
    for tag, data in tables:
        out.extend(_s.pack(">4sIII", tag, 0, offset, len(data)))
        body.extend(data)
        pad = (-len(data)) % 4
        body.extend(b"\x00" * pad)
        offset += len(data) + pad
    return bytes(out) + bytes(body)


def _cff_num(v: int) -> bytes:
    """Type 2 charstring integer operand encoding."""
    if -107 <= v <= 107:
        return bytes([v + 139])
    if 108 <= v <= 1131:
        v -= 108
        return bytes([(v >> 8) + 247, v & 0xFF])
    if -1131 <= v <= -108:
        v = -v - 108
        return bytes([(v >> 8) + 251, v & 0xFF])
    import struct as _s

    return b"\x1c" + _s.pack(">h", v)


def _cff_dict_int(v: int) -> bytes:
    """Fixed-width DICT longint (29 + int32) — stable layout."""
    import struct as _s

    return b"\x1d" + _s.pack(">i", v)


def _cff_index(items: list[bytes]) -> bytes:
    import struct as _s

    if not items:
        return _s.pack(">H", 0)
    offsets = [1]
    for it in items:
        offsets.append(offsets[-1] + len(it))
    off_size = 1 if offsets[-1] < 256 else (2 if offsets[-1] < 65536 else 4)
    out = bytearray(_s.pack(">HB", len(items), off_size))
    for o in offsets:
        out.extend(o.to_bytes(off_size, "big"))
    for it in items:
        out.extend(it)
    return bytes(out)


def build_cff_font(widths: list[float], default_width: float = 0.0,
                   nominal_width: float = 0.0) -> bytes:
    """Minimal Type1C (CFF) font whose charstrings carry only the
    optional width operand + endchar — per-glyph width extraction is
    exactly what the engine parses (cff.rs:453-566 semantics)."""
    header = bytes([1, 0, 4, 2])
    name_index = _cff_index([b"TestCFF"])
    charstrings = []
    for w in widths:
        if w == default_width:
            charstrings.append(b"\x0e")  # endchar, width defaulted
        else:
            charstrings.append(_cff_num(int(round(w - nominal_width))) + b"\x0e")
    cs_index = _cff_index(charstrings)
    private = (_cff_dict_int(int(default_width)) + b"\x14"      # op 20
               + _cff_dict_int(int(nominal_width)) + b"\x15")   # op 21
    # Top DICT uses fixed-width longints so its size is offset-stable:
    # [cs_off 17] [priv_size priv_off 18] = 6 + 11 = 17 bytes
    top_size = 17
    topdict_index_size = 2 + 1 + 2 + top_size  # count,offSize,2 offsets
    pos = len(header) + len(name_index) + topdict_index_size
    pos += 2 + 2  # empty String INDEX + empty GlobalSubr INDEX
    cs_off = pos
    priv_off = cs_off + len(cs_index)
    top = (_cff_dict_int(cs_off) + b"\x11"
           + _cff_dict_int(len(private)) + _cff_dict_int(priv_off) + b"\x12")
    assert len(top) == top_size
    topdict_index = _cff_index([top])
    assert len(topdict_index) == topdict_index_size
    return (header + name_index + topdict_index + b"\x00\x00" + b"\x00\x00"
            + cs_index + private)


# -- encryption fixture builder ---------------------------------------------------

def _serialize_obj(obj, enc=None) -> bytes:
    """Minimal PDF object serializer for re-emitting parsed objects.
    `enc` is a callable bytes->bytes applied to strings and stream data
    (per-object RC4)."""
    from ..kernel.objects import Name, Ref, Stream

    if obj is None:
        return b"null"
    if isinstance(obj, bool):
        return b"true" if obj else b"false"
    if isinstance(obj, (int,)):
        return str(obj).encode()
    if isinstance(obj, float):
        return f"{obj:g}".encode()
    if isinstance(obj, Name):
        return b"/" + str(obj).encode("latin-1")
    if isinstance(obj, Ref):
        return f"{obj.num} {obj.gen} R".encode()
    if isinstance(obj, bytes):
        data = enc(obj) if enc else obj
        return b"<" + data.hex().encode() + b">"
    if isinstance(obj, str):
        data = obj.encode("latin-1", "replace")
        if enc:
            data = enc(data)
        return b"<" + data.hex().encode() + b">"
    if isinstance(obj, list):
        return b"[" + b" ".join(_serialize_obj(v, enc) for v in obj) + b"]"
    if isinstance(obj, Stream):
        d = dict(obj.dict)
        raw = enc(obj.raw) if enc else obj.raw
        d["Length"] = len(raw)
        return (_serialize_obj(d, enc) + b"\nstream\n" + raw + b"\nendstream")
    if isinstance(obj, dict):
        parts = [b"<<"]
        for k, v in obj.items():
            parts.append(b"/" + str(k).encode("latin-1"))
            parts.append(_serialize_obj(v, enc))
        parts.append(b">>")
        return b" ".join(parts)
    raise TypeError(f"cannot serialize {type(obj)}")


def encrypt_pdf(pdf: bytes, user_pw: str, owner_pw: str | None = None) -> bytes:
    """Re-emit a PDF with standard-handler RC4 128-bit encryption
    (R=3, V=2): every string and stream is RC4-encrypted under the
    per-object key (S3 fixture; PDF 32000-1 §7.6.3)."""
    import hashlib

    from ..kernel.crypt import compute_standard_values, rc4
    from ..kernel.docparser import PdfDocument
    from ..kernel.objects import Ref

    doc = PdfDocument(pdf)
    doc_id = hashlib.md5(pdf).digest()
    p = -3904  # print/copy allowed-ish permission bits (typical value)
    o, u, key = compute_standard_values(
        user_pw.encode("latin-1"),
        (owner_pw or user_pw).encode("latin-1"),
        p, doc_id,
    )

    def obj_key(num: int, gen: int) -> bytes:
        h = hashlib.md5()
        h.update(key)
        h.update(num.to_bytes(3, "little"))
        h.update(gen.to_bytes(2, "little"))
        return h.digest()[:16]

    nums = sorted(n for n in doc._xref if n > 0)
    max_num = max(nums) if nums else 0
    enc_num = max_num + 1

    out = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
    offsets: dict[int, int] = {}
    for num in nums:
        try:
            obj = doc.get_object(num)
        except Exception:  # noqa: BLE001
            continue
        if obj is None:
            continue
        k = obj_key(num, 0)
        offsets[num] = len(out)
        out.extend(f"{num} 0 obj\n".encode())
        out.extend(_serialize_obj(obj, enc=lambda d, k=k: rc4(k, d)))
        out.extend(b"\nendobj\n")
    # /Encrypt (never encrypted)
    offsets[enc_num] = len(out)
    out.extend(f"{enc_num} 0 obj\n".encode())
    out.extend(
        (
            "<< /Filter /Standard /V 2 /R 3 /Length 128 "
            f"/P {p} /O <{o.hex()}> /U <{u.hex()}> >>"
        ).encode()
    )
    out.extend(b"\nendobj\n")

    xref_pos = len(out)
    size = enc_num + 1
    out.extend(f"xref\n0 {size}\n".encode())
    out.extend(b"0000000000 65535 f \n")
    for num in range(1, size):
        off = offsets.get(num)
        if off is None:
            out.extend(b"0000000000 65535 f \n")
        else:
            out.extend(f"{off:010d} 00000 n \n".encode())
    root = doc.trailer.get("Root")
    trailer = f"<< /Size {size} /Root {root.num} {root.gen} R "
    info = doc.trailer.get("Info")
    if isinstance(info, Ref):
        trailer += f"/Info {info.num} {info.gen} R "
    trailer += (
        f"/Encrypt {enc_num} 0 R /ID [<{doc_id.hex()}> <{doc_id.hex()}>] >>"
    )
    out.extend(f"trailer\n{trailer}\nstartxref\n{xref_pos}\n%%EOF\n".encode())
    return bytes(out)
