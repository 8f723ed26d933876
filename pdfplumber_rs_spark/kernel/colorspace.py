"""Color space resolution: ICCBased / Indexed / Separation / DeviceN.

Port of crates/pdfplumber-parse/src/color_space.rs:1-360: resolve a
/ColorSpace object (name, array, or reference) into a family with a
component count, and interpret SC/SCN components through it — ICCBased
via its /Alternate (or the N-derived default), Indexed via the lookup
table, Separation/DeviceN best-effort through the alternate space
(tint transform functions are not evaluated, matching the reference).
"""

from __future__ import annotations

from .filters import decode_stream
from .objects import Name, Stream

_DEVICE = {
    "DeviceGray": ("gray", 1), "G": ("gray", 1),
    "DeviceRGB": ("rgb", 3), "RGB": ("rgb", 3),
    "DeviceCMYK": ("cmyk", 4), "CMYK": ("cmyk", 4),
    "CalGray": ("gray", 1), "CalRGB": ("rgb", 3), "Lab": ("rgb", 3),
}


class ColorSpace:
    __slots__ = ("family", "ncomp", "alternate", "hival", "lookup", "base")

    def __init__(self, family: str, ncomp: int,
                 alternate: "ColorSpace | None" = None,
                 hival: int = 0, lookup: bytes | None = None,
                 base: "ColorSpace | None" = None) -> None:
        self.family = family
        self.ncomp = ncomp
        self.alternate = alternate
        self.hival = hival
        self.lookup = lookup
        self.base = base


def _device(kind: str) -> ColorSpace:
    n = {"gray": 1, "rgb": 3, "cmyk": 4}[kind]
    return ColorSpace(kind, n)


def by_component_count(n: int, stroke_default: bool = False) -> ColorSpace:
    if n == 1:
        return _device("gray")
    if n == 3:
        return _device("rgb")
    if n == 4:
        return _device("cmyk")
    return _device("rgb" if stroke_default else "gray")


def resolve_colorspace(doc, obj, depth: int = 0) -> ColorSpace | None:
    """(color_space.rs:175-360) name | [family ...] | ref → ColorSpace."""
    if depth > 8:
        return None
    obj = doc.resolve(obj)
    if isinstance(obj, Name):
        hit = _DEVICE.get(str(obj))
        return ColorSpace(*hit) if hit else None
    if not isinstance(obj, list) or not obj:
        return None
    head = doc.resolve(obj[0])
    fam = str(head) if isinstance(head, Name) else ""
    if fam in _DEVICE:
        return ColorSpace(*_DEVICE[fam])
    if fam == "ICCBased" and len(obj) >= 2:
        stream = doc.resolve(obj[1])
        n = 3
        alt = None
        if isinstance(stream, Stream):
            nv = doc.resolve(stream.dict.get("N"))
            if isinstance(nv, (int, float)):
                n = int(nv)
            alt_obj = stream.dict.get("Alternate")
            if alt_obj is not None:
                alt = resolve_colorspace(doc, alt_obj, depth + 1)
        return ColorSpace("iccbased", n,
                          alternate=alt or by_component_count(n))
    if fam in ("Indexed", "I") and len(obj) >= 4:
        base = resolve_colorspace(doc, obj[1], depth + 1) or _device("rgb")
        hival = doc.resolve(obj[2])
        hival = int(hival) if isinstance(hival, (int, float)) else 0
        lk = doc.resolve(obj[3])
        if isinstance(lk, Stream):
            try:
                lookup = decode_stream(doc, lk)
            except Exception:  # noqa: BLE001
                lookup = b""
        elif isinstance(lk, bytes):
            lookup = lk
        else:
            lookup = b""
        return ColorSpace("indexed", 1, hival=hival, lookup=lookup, base=base)
    if fam == "Separation" and len(obj) >= 3:
        alt = resolve_colorspace(doc, obj[2], depth + 1) or _device("gray")
        return ColorSpace("separation", 1, alternate=alt)
    if fam == "DeviceN" and len(obj) >= 3:
        names = doc.resolve(obj[1])
        n = len(names) if isinstance(names, list) else 1
        alt = resolve_colorspace(doc, obj[2], depth + 1) or by_component_count(n)
        return ColorSpace("devicen", n, alternate=alt)
    if fam == "Pattern":
        return ColorSpace("pattern", 1)
    return None


def resolve_color(cs: ColorSpace | None, comps: list[float],
                  stroke: bool = False):
    """Components → ('gray'|'rgb'|'cmyk'|'other', values)
    (color_space.rs:66-128). None cs falls back by component count."""
    if not comps:
        return None
    if cs is None:
        cs = by_component_count(len(comps), stroke_default=stroke)
    fam = cs.family
    if fam == "gray":
        return ("gray", [comps[0]])
    if fam == "rgb":
        vals = (comps + [0.0, 0.0, 0.0])[:3]
        return ("rgb", vals)
    if fam == "cmyk":
        vals = (comps + [0.0, 0.0, 0.0, 0.0])[:4]
        return ("cmyk", vals)
    if fam == "iccbased":
        return resolve_color(cs.alternate, comps, stroke)
    if fam == "indexed":
        idx = min(int(comps[0]), cs.hival)
        base = cs.base or _device("rgb")
        bn = base.ncomp
        off = idx * bn
        if cs.lookup is not None and off + bn <= len(cs.lookup):
            vals = [b / 255.0 for b in cs.lookup[off : off + bn]]
            return resolve_color(base, vals, stroke)
        return ("other", list(comps))
    if fam == "separation":
        tint = comps[0]
        alt = cs.alternate.family if cs.alternate else ""
        if alt == "gray":
            return ("gray", [tint])
        if alt == "rgb":
            return ("rgb", [tint, tint, tint])
        if alt == "cmyk":
            return ("cmyk", [0.0, 0.0, 0.0, 1.0 - tint])
        return ("other", list(comps))
    if fam == "devicen":
        return resolve_color(cs.alternate, comps, stroke)
    return ("other", list(comps))
