"""Content-stream interpreter: operators -> char/path/image events.

One sequential state machine per page (inherently ordered dataflow);
the Spark engine runs thousands of these per Arrow batch. Semantics
follow the reference interpreter (crates/pdfplumber-parse/src/
interpreter.rs:106-590, text_state.rs, text_renderer.rs:50-172):

- Trm snapshot per glyph; advance tx = ((w0/1000)*Tfs + Tc + Tw_if_sp32)*Th
- TJ kern: tx = -(adj/1000)*Tfs*Th
- CID fonts consume 2-byte codes (Identity-H)
- q/Q stack couples graphics AND text state snapshots
- paths built with CTM applied at construction (path.rs:36-150)
- form XObjects recurse with a depth limit; image XObjects emit events
"""

from __future__ import annotations

from .filters import decode_content
from .objects import Name, Ref, Stream
from .fonts.font import LoadedFont, load_font
from .tokenizer import Operator, tokenize

MAX_FORM_DEPTH = 12

IDENTITY = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)
_ZERO2 = (0.0, 0.0)


def mat_mul(m1, m2):
    """Row-vector convention: point p transforms as p' = p·M.
    mat_mul(A, B) applies A first, then B."""
    a1, b1, c1, d1, e1, f1 = m1
    a2, b2, c2, d2, e2, f2 = m2
    return (
        a1 * a2 + b1 * c2,
        a1 * b2 + b1 * d2,
        c1 * a2 + d1 * c2,
        c1 * b2 + d1 * d2,
        e1 * a2 + f1 * c2 + e2,
        e1 * b2 + f1 * d2 + f2,
    )


def transform_point(m, x, y):
    a, b, c, d, e, f = m
    return (a * x + c * y + e, b * x + d * y + f)


class CharRun:
    """One Tj/TJ-segment's glyphs as COLUMNS: the text state (font,
    size, colors, mcid, Tm a-d, CTM …) is constant across a show
    operation — only (code, unicode, width, Tm e/f) vary per glyph, and
    within a run Tm changes by pure translation. Storing one run object
    + per-glyph lists replaces a per-glyph CharEvent object, and lets
    char assembly build its numpy columns with list.extend + np.repeat
    instead of per-event attribute scans (chars.py)."""

    __slots__ = (
        "font_name", "font_size", "h_scaling", "rise", "tm_abcd", "ctm",
        "ascent", "descent", "mcid", "tag",
        "stroking_color", "non_stroking_color",
        "codes", "unis", "w0s", "es", "fs", "vxs", "vys",
    )

    def __init__(self, font_name, font_size, h_scaling, rise, tm_abcd,
                 ctm, ascent, descent, mcid, tag, stroking_color,
                 non_stroking_color, codes, unis, w0s, es, fs,
                 vxs=None, vys=None) -> None:
        self.font_name = font_name
        self.font_size = font_size
        self.h_scaling = h_scaling
        self.rise = rise
        self.tm_abcd = tm_abcd
        self.ctm = ctm
        self.ascent = ascent
        self.descent = descent
        self.mcid = mcid
        self.tag = tag
        self.stroking_color = stroking_color
        self.non_stroking_color = non_stroking_color
        self.codes = codes
        self.unis = unis
        self.w0s = w0s
        self.es = es
        self.fs = fs
        self.vxs = vxs  # None for horizontal runs (vx = vy = 0)
        self.vys = vys


class PaintedPath:
    __slots__ = ("segments", "stroke", "fill", "even_odd", "line_width",
                 "stroke_color", "fill_color")

    def __init__(self, segments, stroke, fill, even_odd, line_width,
                 stroke_color, fill_color) -> None:
        self.segments = segments
        self.stroke = stroke
        self.fill = fill
        self.even_odd = even_odd
        self.line_width = line_width
        self.stroke_color = stroke_color
        self.fill_color = fill_color


class ImageEvent:
    __slots__ = ("name", "ctm", "src_width", "src_height", "colorspace",
                 "filter", "inline", "data", "bits")

    def __init__(self, name, ctm, src_width, src_height, colorspace,
                 filt, inline, data=None, bits=0) -> None:
        self.name = name
        self.ctm = ctm
        self.src_width = src_width
        self.src_height = src_height
        self.colorspace = colorspace
        self.filter = filt
        self.inline = inline
        self.data = data
        self.bits = bits


class _GState:
    __slots__ = ("ctm", "line_width", "stroke_color", "fill_color",
                 "stroke_cs", "fill_cs",
                 "char_spacing", "word_spacing", "h_scaling", "leading",
                 "font", "font_name", "font_size", "rise", "render_mode")

    def __init__(self) -> None:
        self.ctm = IDENTITY
        self.line_width = 1.0
        self.stroke_color = None
        self.fill_color = None
        self.stroke_cs = None  # resolved ColorSpace for SC/SCN
        self.fill_cs = None
        # text state lives here too: q/Q snapshots both (interpreter.rs:139-145)
        self.char_spacing = 0.0
        self.word_spacing = 0.0
        self.h_scaling = 1.0
        self.leading = 0.0
        self.font: LoadedFont | None = None
        self.font_name = ""
        self.font_size = 0.0
        self.rise = 0.0
        self.render_mode = 0

    def clone(self) -> "_GState":
        g = _GState.__new__(_GState)
        for s in _GState.__slots__:
            setattr(g, s, getattr(self, s))
        return g


class Interpreter:
    def __init__(self, doc, warnings: list[str] | None = None,
                 max_objects: int | None = None) -> None:
        self.doc = doc
        self.warnings = warnings if warnings is not None else []
        self.max_objects = max_objects
        self.chars: list[CharRun] = []
        self.paths: list[PaintedPath] = []
        self.images: list[ImageEvent] = []
        self._font_cache: dict[int, LoadedFont] = {}

    # -- public --------------------------------------------------------------

    def run_page(self, page: dict, content: bytes) -> None:
        resources = self.doc.resolve(page.get("Resources")) or {}
        gs = _GState()
        self._run(content, resources, gs, depth=0)

    # -- main loop -----------------------------------------------------------

    def _run(self, content: bytes, resources: dict, gs: _GState, depth: int) -> None:
        doc = self.doc
        stack: list[_GState] = []
        tm = IDENTITY
        tlm = IDENTITY
        in_text = False
        # path construction state (device space; CTM applied at construction)
        segments: list = []
        cur_pt = None
        start_pt = None
        mc_stack: list[tuple[str, int | None]] = []

        fonts_res = doc.resolve(resources.get("Font")) or {}
        xobj_res = doc.resolve(resources.get("XObject")) or {}
        cs_res = doc.resolve(resources.get("ColorSpace")) or {}

        ops = tokenize(content, self.warnings)

        for op in ops:
            if self.max_objects is not None and (
                len(self.chars) + len(self.paths) > self.max_objects
            ):
                self.warnings.append("object budget exceeded; page truncated")
                return
            name = op.name
            o = op.operands
            try:
                # ---- graphics state ----
                if name == "q":
                    stack.append(gs.clone())
                elif name == "Q":
                    if stack:
                        gs = stack.pop()
                elif name == "cm":
                    if len(o) >= 6:
                        m = tuple(float(v) for v in o[:6])
                        gs.ctm = mat_mul(m, gs.ctm)
                elif name == "w":
                    if o:
                        gs.line_width = float(o[0])
                elif name == "gs":
                    pass  # ExtGState: fonts/blend modes — parity-irrelevant here
                # ---- color ----
                elif name == "G":
                    gs.stroke_color = ("gray", [float(o[0])]) if o else None
                elif name == "g":
                    gs.fill_color = ("gray", [float(o[0])]) if o else None
                elif name == "RG":
                    if len(o) >= 3:
                        gs.stroke_color = ("rgb", [float(v) for v in o[:3]])
                elif name == "rg":
                    if len(o) >= 3:
                        gs.fill_color = ("rgb", [float(v) for v in o[:3]])
                elif name == "K":
                    if len(o) >= 4:
                        gs.stroke_color = ("cmyk", [float(v) for v in o[:4]])
                elif name == "k":
                    if len(o) >= 4:
                        gs.fill_color = ("cmyk", [float(v) for v in o[:4]])
                elif name in ("SC", "SCN"):
                    vals = [float(v) for v in o if isinstance(v, (int, float))]
                    if vals:
                        from .colorspace import resolve_color

                        gs.stroke_color = resolve_color(
                            gs.stroke_cs, vals, stroke=True)
                elif name in ("sc", "scn"):
                    vals = [float(v) for v in o if isinstance(v, (int, float))]
                    if vals:
                        from .colorspace import resolve_color

                        gs.fill_color = resolve_color(gs.fill_cs, vals)
                elif name in ("CS", "cs"):
                    # resolve named colorspace (device or /Resources
                    # /ColorSpace entry; color_space.rs:153-172)
                    if o and isinstance(o[-1], Name):
                        cs = self._resolve_cs_name(str(o[-1]), cs_res)
                        if name == "CS":
                            gs.stroke_cs = cs
                        else:
                            gs.fill_cs = cs
                elif name in ("ri", "i", "j", "J", "M", "d"):
                    pass
                # ---- text object ----
                elif name == "BT":
                    in_text = True
                    tm = IDENTITY
                    tlm = IDENTITY
                elif name == "ET":
                    in_text = False
                elif name == "Tf":
                    if len(o) >= 2 and isinstance(o[0], Name):
                        gs.font_name = str(o[0])
                        gs.font_size = float(o[1])
                        gs.font = self._load_font_cached(fonts_res, str(o[0]))
                elif name == "Tm":
                    if len(o) >= 6:
                        tm = tlm = tuple(float(v) for v in o[:6])
                elif name == "Td":
                    if len(o) >= 2:
                        tlm = mat_mul((1, 0, 0, 1, float(o[0]), float(o[1])), tlm)
                        tm = tlm
                elif name == "TD":
                    if len(o) >= 2:
                        gs.leading = -float(o[1])
                        tlm = mat_mul((1, 0, 0, 1, float(o[0]), float(o[1])), tlm)
                        tm = tlm
                elif name == "T*":
                    tlm = mat_mul((1, 0, 0, 1, 0.0, -gs.leading), tlm)
                    tm = tlm
                elif name == "Tc":
                    if o:
                        gs.char_spacing = float(o[0])
                elif name == "Tw":
                    if o:
                        gs.word_spacing = float(o[0])
                elif name == "Tz":
                    if o:
                        gs.h_scaling = float(o[0]) / 100.0
                elif name == "TL":
                    if o:
                        gs.leading = float(o[0])
                elif name == "Tr":
                    if o:
                        gs.render_mode = int(o[0])
                elif name == "Ts":
                    if o:
                        gs.rise = float(o[0])
                # ---- text showing ----
                elif name == "Tj":
                    if o and isinstance(o[-1], bytes):
                        tm = self._show(o[-1], gs, tm, mc_stack)
                elif name == "TJ":
                    if o and isinstance(o[-1], list):
                        tm = self._show_tj(o[-1], gs, tm, mc_stack)
                elif name == "'":
                    tlm = mat_mul((1, 0, 0, 1, 0.0, -gs.leading), tlm)
                    tm = tlm
                    if o and isinstance(o[-1], bytes):
                        tm = self._show(o[-1], gs, tm, mc_stack)
                elif name == '"':
                    if len(o) >= 3 and isinstance(o[2], bytes):
                        gs.word_spacing = float(o[0])
                        gs.char_spacing = float(o[1])
                        tlm = mat_mul((1, 0, 0, 1, 0.0, -gs.leading), tlm)
                        tm = tlm
                        tm = self._show(o[2], gs, tm, mc_stack)
                # ---- path construction (CTM applied now; path.rs) ----
                elif name == "m":
                    if len(o) >= 2:
                        cur_pt = transform_point(gs.ctm, float(o[0]), float(o[1]))
                        start_pt = cur_pt
                        segments.append(("m", cur_pt))
                elif name == "l":
                    if len(o) >= 2 and cur_pt is not None:
                        cur_pt = transform_point(gs.ctm, float(o[0]), float(o[1]))
                        segments.append(("l", cur_pt))
                elif name == "c":
                    if len(o) >= 6 and cur_pt is not None:
                        p1 = transform_point(gs.ctm, float(o[0]), float(o[1]))
                        p2 = transform_point(gs.ctm, float(o[2]), float(o[3]))
                        p3 = transform_point(gs.ctm, float(o[4]), float(o[5]))
                        segments.append(("c", p1, p2, p3))
                        cur_pt = p3
                elif name == "v":
                    if len(o) >= 4 and cur_pt is not None:
                        p2 = transform_point(gs.ctm, float(o[0]), float(o[1]))
                        p3 = transform_point(gs.ctm, float(o[2]), float(o[3]))
                        segments.append(("c", cur_pt, p2, p3))
                        cur_pt = p3
                elif name == "y":
                    if len(o) >= 4 and cur_pt is not None:
                        p1 = transform_point(gs.ctm, float(o[0]), float(o[1]))
                        p3 = transform_point(gs.ctm, float(o[2]), float(o[3]))
                        segments.append(("c", p1, p3, p3))
                        cur_pt = p3
                elif name == "re":
                    if len(o) >= 4:
                        x, y, w, h = (float(v) for v in o[:4])
                        p0 = transform_point(gs.ctm, x, y)
                        p1 = transform_point(gs.ctm, x + w, y)
                        p2 = transform_point(gs.ctm, x + w, y + h)
                        p3 = transform_point(gs.ctm, x, y + h)
                        segments.extend(
                            [("m", p0), ("l", p1), ("l", p2), ("l", p3), ("h",)]
                        )
                        cur_pt = p0
                        start_pt = p0
                elif name == "h":
                    if segments:
                        segments.append(("h",))
                        cur_pt = start_pt
                # ---- path painting ----
                elif name in ("S", "s", "f", "F", "f*", "B", "B*", "b", "b*", "n"):
                    if name in ("s", "b", "b*") and segments:
                        segments.append(("h",))
                    stroke = name in ("S", "s", "B", "B*", "b", "b*")
                    fill = name in ("f", "F", "f*", "B", "B*", "b", "b*")
                    even_odd = name in ("f*", "B*", "b*")
                    if segments and (stroke or fill):
                        self.paths.append(
                            PaintedPath(
                                segments, stroke, fill, even_odd, gs.line_width,
                                gs.stroke_color, gs.fill_color,
                            )
                        )
                    segments = []
                    cur_pt = None
                    start_pt = None
                elif name in ("W", "W*"):
                    pass  # clipping: recorded by pdfplumber as no-op
                # ---- XObjects ----
                elif name == "Do":
                    if o and isinstance(o[-1], Name):
                        self._do_xobject(str(o[-1]), xobj_res, gs, depth)
                # ---- marked content ----
                elif name == "BDC":
                    tag = str(o[0]) if o and isinstance(o[0], Name) else ""
                    mcid = None
                    if len(o) >= 2 and isinstance(o[1], dict):
                        v = o[1].get("MCID")
                        if isinstance(v, int):
                            mcid = v
                    mc_stack.append((tag, mcid))
                elif name == "BMC":
                    tag = str(o[0]) if o and isinstance(o[0], Name) else ""
                    mc_stack.append((tag, None))
                elif name == "EMC":
                    if mc_stack:
                        mc_stack.pop()
                elif name in ("MP", "DP"):
                    pass
                # ---- inline images ----
                elif name == "BI":
                    if len(o) >= 2 and isinstance(o[0], dict):
                        img, raw = o[0], o[1]
                        self.images.append(
                            ImageEvent(
                                "inline", gs.ctm,
                                int(img.get("Width", 0) or 0),
                                int(img.get("Height", 0) or 0),
                                str(img.get("ColorSpace", "") or ""),
                                str(img.get("Filter", "") or ""),
                                True, raw,
                                int(img.get("BitsPerComponent", 0) or 0),
                            )
                        )
                else:
                    # unknown operator: lenient skip (interpreter.rs:579-585)
                    pass
            except (ValueError, TypeError, IndexError) as e:
                self.warnings.append(f"op {name}: {e}")
                continue

    # -- helpers ---------------------------------------------------------------

    def _resolve_cs_name(self, name: str, cs_res: dict):
        from .colorspace import _DEVICE, ColorSpace, resolve_colorspace

        hit = _DEVICE.get(name)
        if hit is not None:
            return ColorSpace(*hit)
        if isinstance(cs_res, dict) and name in cs_res:
            key = ("cs", name)
            cached = self._font_cache.get(key)
            if cached is None:
                cached = resolve_colorspace(self.doc, cs_res[name])
                self._font_cache[key] = cached
            return cached
        return None

    def _load_font_cached(self, fonts_res: dict, name: str) -> LoadedFont:
        obj = fonts_res.get(name)
        key = (obj.num if isinstance(obj, Ref) else id(obj), name)
        cached = self._font_cache.get(key)
        if cached is None:
            cached = load_font(self.doc, obj)
            self._font_cache[key] = cached
        return cached

    def _show(self, data: bytes, gs: _GState, tm, mc_stack) -> tuple:
        font = gs.font
        is_cid = font.is_cid if font is not None else False
        wmode = font.writing_mode if font is not None else 0
        tfs = gs.font_size
        tc = gs.char_spacing
        tw = gs.word_spacing
        th = gs.h_scaling
        mcid = mc_stack[-1][1] if mc_stack else None
        tag = mc_stack[-1][0] if mc_stack else None
        fname = font.display_name if font is not None else gs.font_name
        if font is not None:
            asc, desc = font.bbox_ascent_descent()
        else:
            asc, desc = 750.0, -250.0

        # (code, raw_bytes) pairs; raw bytes feed the CJK charset decode
        pairs: list[tuple[int, bytes | None]]
        if is_cid:
            if font.cjk_codec is not None:
                from .fonts.cjk import split_codes

                pairs = split_codes(data, font.cjk_lead_rule)
            else:
                pairs = []
                i = 0
                n = len(data)
                while i < n:
                    if i + 1 < n:
                        pairs.append((((data[i] << 8) | data[i + 1]), None))
                        i += 2
                    else:
                        pairs.append((data[i], None))
                        i += 1
        else:
            pairs = [(b, None) for b in data]

        if not pairs:
            return tm
        cache = font.code_cache if font is not None else None
        # per-glyph columns; text-state constants live once on the run
        codes: list = []
        unis: list = []
        w0s: list = []
        es: list = []
        fs: list = []
        a2, b2, c2, d2, te, tf = tm
        vxs = vys = None
        if wmode == 1:
            vxs, vys = [], []
        elif font is not None and font.cjk_codec is None:
            # hot path (horizontal simple/identity-CID font, no CJK
            # charset): per-glyph branches hoisted out of the loop —
            # this loop runs once per shown glyph on every text page
            cache_get = cache.get
            codes_ap = codes.append
            unis_ap = unis.append
            w0s_ap = w0s.append
            es_ap = es.append
            fs_ap = fs.append
            for code, _raw in pairs:
                hit = cache_get(code)
                if hit is None:
                    w0 = font.get_width(code)
                    uni = font.to_unicode(code)
                    cache[code] = hit = (w0, uni)
                w0, uni = hit
                codes_ap(code)
                unis_ap(uni)
                w0s_ap(w0)
                es_ap(te)
                fs_ap(tf)
                # bit-identical to the general path's advance expression
                tx = ((w0 / 1000.0) * tfs + tc
                      + (tw if code == 32 else 0.0)) * th
                te = tx * a2 + te
                tf = tx * b2 + tf
            self.chars.append(
                CharRun(
                    fname, tfs, th, gs.rise, (a2, b2, c2, d2), gs.ctm,
                    asc, desc, mcid, tag, gs.stroke_color, gs.fill_color,
                    codes, unis, w0s, es, fs, None, None,
                )
            )
            return (a2, b2, c2, d2, te, tf)
        for code, raw in pairs:
            if font is not None:
                # per-font memo: width + unicode are pure functions of
                # the code (raw bytes are derived from it), and codes
                # repeat heavily — one dict hit replaces the whole
                # width/unicode/cjk chain on the per-glyph hot path
                hit = cache.get(code)
                if hit is not None:
                    w0, uni = hit
                else:
                    w0 = font.get_width(code)
                    uni = font.to_unicode(code)
                    if raw is not None and (uni is None or uni.startswith("(cid:")):
                        from .fonts.cjk import decode_cjk

                        dec = decode_cjk(raw, font.cjk_codec)
                        if dec:
                            uni = dec
                    cache[code] = (w0, uni)
            else:
                w0 = 600.0
                try:
                    uni = chr(code)
                except ValueError:
                    uni = None
            codes.append(code)
            unis.append(uni)
            w0s.append(w0)
            es.append(te)
            fs.append(tf)
            if wmode == 1:
                # vertical: advance along y by w1 from /W2 → /DW2 → vmtx
                # (cid_font.rs:227-250; defaults w1=-1000, vy=880, vx=w0/2)
                if font is not None:
                    w1, vx, vy = font.get_vertical_metric(code)
                else:
                    w1, vx, vy = -1000.0, w0 / 2.0, 880.0
                vxs.append(vx)
                vys.append(vy)
                ty = (w1 / 1000.0) * tfs + tc + (tw if code == 32 else 0.0)
                # tm = translate(0, ty) · tm, inlined (per-glyph hot path)
                te = ty * c2 + te
                tf = ty * d2 + tf
            else:
                tx = ((w0 / 1000.0) * tfs + tc + (tw if code == 32 else 0.0)) * th
                # tm = translate(tx, 0) · tm, inlined
                te = tx * a2 + te
                tf = tx * b2 + tf
        self.chars.append(
            CharRun(
                fname, tfs, th, gs.rise, (a2, b2, c2, d2), gs.ctm,
                asc, desc, mcid, tag, gs.stroke_color, gs.fill_color,
                codes, unis, w0s, es, fs, vxs, vys,
            )
        )
        return (a2, b2, c2, d2, te, tf)

    def _show_tj(self, arr: list, gs: _GState, tm, mc_stack) -> tuple:
        tfs = gs.font_size
        th = gs.h_scaling
        wmode = gs.font.writing_mode if gs.font is not None else 0
        for el in arr:
            if isinstance(el, bytes):
                tm = self._show(el, gs, tm, mc_stack)
            elif isinstance(el, (int, float)):
                adj = -(float(el) / 1000.0) * tfs
                a2, b2, c2, d2, e2, f2 = tm
                if wmode == 1:
                    tm = (a2, b2, c2, d2, adj * c2 + e2, adj * d2 + f2)
                else:
                    ax = adj * th
                    tm = (a2, b2, c2, d2, ax * a2 + e2, ax * b2 + f2)
        return tm

    def _do_xobject(self, name: str, xobj_res: dict, gs: _GState, depth: int) -> None:
        obj = self.doc.resolve(xobj_res.get(name))
        if not isinstance(obj, Stream):
            return
        subtype = str(self.doc.resolve(obj.dict.get("Subtype")) or "")
        if subtype == "Image":
            w = self.doc.resolve(obj.dict.get("Width"))
            h = self.doc.resolve(obj.dict.get("Height"))
            cs = self.doc.resolve(obj.dict.get("ColorSpace"))
            filt = self.doc.resolve(obj.dict.get("Filter"))
            if isinstance(cs, Name) or cs is None:
                cs_name = str(cs) if cs is not None else ""
            else:
                # array colorspace (ICCBased/Indexed/Separation/DeviceN):
                # report the resolved family + component count
                from .colorspace import resolve_colorspace

                rcs = resolve_colorspace(self.doc, cs)
                cs_name = (f"{rcs.family}({rcs.ncomp})" if rcs is not None
                           else "unknown")
            bits = self.doc.resolve(obj.dict.get("BitsPerComponent"))
            self.images.append(
                ImageEvent(
                    name, gs.ctm,
                    int(w) if isinstance(w, (int, float)) else 0,
                    int(h) if isinstance(h, (int, float)) else 0,
                    cs_name,
                    str(filt) if filt is not None else "",
                    False,
                    bits=int(bits) if isinstance(bits, (int, float)) else 0,
                )
            )
        elif subtype == "Form":
            if depth >= MAX_FORM_DEPTH:
                self.warnings.append("form XObject recursion limit")
                return
            inner = gs.clone()
            matrix = self.doc.resolve(obj.dict.get("Matrix"))
            if isinstance(matrix, list) and len(matrix) == 6:
                inner.ctm = mat_mul(tuple(float(v) for v in matrix), gs.ctm)
            res = self.doc.resolve(obj.dict.get("Resources")) or {}
            content = decode_content(self.doc, [obj])
            self._run(content, res, inner, depth + 1)
