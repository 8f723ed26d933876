"""Char assembly: CharRuns -> one page's CharColumns (numpy-vectorized).

Port of the reference bbox math
(crates/pdfplumber-parse/src/char_extraction.rs:28-128):
Trm = [Tfs*Th, 0, 0, Tfs, 0, Trise] x Tm x CTM; bbox = AABB of the four
transformed corners of (ox, oy+descent)-(ox+w0/1000, oy+ascent);
y-flip top = page_height - max_y; upright iff no shear; direction from
the dominant Trm axis.

The interpreter emits COLUMNAR CharRuns (one per show op: constants on
the run, per-glyph lists) and a page keeps its glyphs the same way, as
one CharColumns: numpy position columns, a text list, and per glyph its
run, which keeps the run constants (fontname, colours, ctm, mcid, tag,
char codes). Every page-level pass reads the columns; per-glyph dicts
are built only on demand (`to_dicts`, behind `Page.chars`).
"""

from __future__ import annotations

from dataclasses import dataclass
from types import SimpleNamespace

import numpy as np

DIRECTIONS = ("ltr", "rtl", "ttb", "btt")
_DIRECTION_CODE = {d: i for i, d in enumerate(DIRECTIONS)}
# direction codes after a clockwise page rotation
_ROTATED_DIRECTION = {
    90: np.array([2, 3, 1, 0]),
    180: np.array([1, 0, 3, 2]),
    270: np.array([3, 2, 0, 1]),
}


@dataclass(eq=False, slots=True)
class CharColumns:
    """One page's glyphs as a struct of arrays, every column always
    present and aligned. run/pos give each glyph's CharRun in `runs`
    and its index in that run's codes. Filters return a new CharColumns
    (`take`); only the page build edits columns in place."""

    x0: np.ndarray  # float64, like x1/top/bottom/doctop/size
    x1: np.ndarray
    top: np.ndarray
    bottom: np.ndarray
    doctop: np.ndarray
    size: np.ndarray
    upright: np.ndarray  # bool
    direction: np.ndarray  # int codes into DIRECTIONS
    text: list
    run: np.ndarray
    pos: np.ndarray
    runs: list

    def __len__(self) -> int:
        return len(self.text)

    def take(self, idx) -> "CharColumns":
        """The glyphs at `idx` (an index array or a boolean mask), in
        that order."""
        idx = np.asarray(idx)
        idx = np.flatnonzero(idx) if idx.dtype == np.bool_ \
            else idx.astype(np.intp, copy=False)
        text = self.text
        return CharColumns(
            self.x0[idx], self.x1[idx], self.top[idx], self.bottom[idx],
            self.doctop[idx], self.size[idx], self.upright[idx],
            self.direction[idx], [text[i] for i in idx.tolist()],
            self.run[idx], self.pos[idx], self.runs)

    def text_codes(self):
        """Each glyph's code point (int64) when every glyph text is
        exactly one char — the common case — else None."""
        text = self.text
        joined = "".join(text)
        if len(joined) != len(text) or "" in text:
            return None
        return np.frombuffer(joined.encode("utf-32-le", "surrogatepass"),
                             np.uint32).astype(np.int64)

    def to_dicts(self) -> list[dict]:
        """The per-glyph dicts of the `Page.chars` API."""
        runs = self.runs
        ctms = [None if r.ctm is None else tuple(float(v) for v in r.ctm)
                for r in runs]
        return [
            {"text": text, "x0": x0, "top": top, "x1": x1, "bottom": bottom,
             "fontname": runs[ri].font_name, "size": size, "doctop": doctop,
             "upright": upright, "direction": DIRECTIONS[d],
             "stroking_color": runs[ri].stroking_color,
             "non_stroking_color": runs[ri].non_stroking_color,
             "ctm": ctms[ri], "char_code": int(runs[ri].codes[pos]),
             "mcid": runs[ri].mcid, "tag": runs[ri].tag}
            for text, x0, top, x1, bottom, size, doctop, upright, d, ri, pos
            in zip(self.text, self.x0.tolist(), self.top.tolist(),
                   self.x1.tolist(), self.bottom.tolist(), self.size.tolist(),
                   self.doctop.tolist(), self.upright.tolist(),
                   self.direction.tolist(), self.run.tolist(),
                   self.pos.tolist())]

    @classmethod
    def from_dicts(cls, chars: list[dict]) -> "CharColumns":
        """Columns over caller-built char dicts (one run per dict)."""
        n = len(chars)

        def col(key):
            return np.fromiter((c[key] for c in chars), np.float64, n)

        keys = ("ctm", "stroking_color", "non_stroking_color", "mcid", "tag")
        runs = [SimpleNamespace(font_name=c.get("fontname"),
                                codes=[c.get("char_code", 0)],
                                **{k: c.get(k) for k in keys}) for c in chars]
        return cls(
            col("x0"), col("x1"), col("top"), col("bottom"), col("doctop"),
            col("size"),
            np.fromiter((bool(c["upright"]) for c in chars), np.bool_, n),
            np.fromiter((_DIRECTION_CODE[c["direction"]] for c in chars),
                        np.int64, n),
            [c["text"] for c in chars], np.arange(n), np.zeros(n, np.int64),
            runs)


def chars_from_events(runs: list, page_height: float,
                      geom=None) -> CharColumns:
    """runs: list[interpreter.CharRun] for one page. `geom` (a
    page.PageGeometry) with a non-zero rotation turns the boxes,
    directions and upright flags into the rotated page's frame."""
    runs = [r for r in runs if r.codes]
    if not runs:
        return CharColumns.from_dicts([])
    nruns = len(runs)
    lens = np.fromiter((len(r.codes) for r in runs), np.int64, nruns)
    n = int(lens.sum())

    # per-run constants -> per-glyph via repeat
    rscal = np.array(
        [(r.font_size, r.h_scaling, r.rise, r.ascent, r.descent)
         for r in runs],
        dtype=np.float64,
    )
    tfs, th, rise, asc, desc = np.repeat(rscal, lens, axis=0).T
    abcd = np.repeat(
        np.array([r.tm_abcd for r in runs], dtype=np.float64), lens, axis=0)
    a2, b2, c2, d2 = abcd.T
    cmat = np.repeat(
        np.array([r.ctm for r in runs], dtype=np.float64), lens, axis=0)

    # per-glyph columns -> flat lists (C-speed extend), one np.array each
    text: list = []
    disp_l: list = []
    e_l: list = []
    f_l: list = []
    for r in runs:
        text.extend(r.unis)
        disp_l.extend(r.w0s)
        e_l.extend(r.es)
        f_l.extend(r.fs)
    if None in text:
        text = ["�" if u is None else u for u in text]
    disp = np.asarray(disp_l, dtype=np.float64)
    e2 = np.asarray(e_l, dtype=np.float64)
    f2 = np.asarray(f_l, dtype=np.float64)
    vx = np.zeros(n, dtype=np.float64)
    vy = np.zeros(n, dtype=np.float64)
    starts = np.cumsum(lens) - lens
    for r, s in zip(runs, starts.tolist()):
        if r.vxs is not None:
            vx[s:s + len(r.vxs)] = r.vxs
            vy[s:s + len(r.vys)] = r.vys

    # fm = [tfs*th, 0, 0, tfs, 0, rise]; trm1 = fm x Tm
    A1 = tfs * th
    D1 = tfs
    F1 = rise
    t_a = A1 * a2
    t_b = A1 * b2
    t_c = D1 * c2
    t_d = D1 * d2
    t_e = F1 * c2 + e2
    t_f = F1 * d2 + f2

    # trm = trm1 x CTM
    a3, b3, c3, d3, e3, f3 = cmat.T
    a = t_a * a3 + t_b * c3
    b = t_a * b3 + t_b * d3
    c = t_c * a3 + t_d * c3
    d = t_c * b3 + t_d * d3
    e = t_e * a3 + t_f * c3 + e3
    f = t_e * b3 + t_f * d3 + f3

    w = disp / 1000.0
    an = asc / 1000.0
    dn = desc / 1000.0
    ox = -vx / 1000.0
    oy = -vy / 1000.0

    # corners in glyph space: (ox,oy+dn) (ox+w,oy+dn) (ox+w,oy+an) (ox,oy+an),
    # one column per corner; min/max fold them left to right
    gx = (ox, ox + w, ox + w, ox)
    gy = (oy + dn, oy + dn, oy + an, oy + an)
    px = [a * u + c * v + e for u, v in zip(gx, gy)]
    py = [b * u + d * v + f for u, v in zip(gx, gy)]
    x0 = np.minimum(np.minimum(np.minimum(px[0], px[1]), px[2]), px[3])
    x1 = np.maximum(np.maximum(np.maximum(px[0], px[1]), px[2]), px[3])
    min_y = np.minimum(np.minimum(np.minimum(py[0], py[1]), py[2]), py[3])
    max_y = np.maximum(np.maximum(np.maximum(py[0], py[1]), py[2]), py[3])
    top = page_height - max_y
    bottom = page_height - min_y

    # pdfminer upright semantics: evaluated on Tm×CTM (no font-size
    # prematrix), with the horizontal-scaling sign folded in:
    # upright = 0 < a·d·scaling and b·c <= 0. Negative Tz / mirrored
    # matrices make text non-upright (drives word grouping).
    am = a2 * a3 + b2 * c3
    bm = a2 * b3 + b2 * d3
    cm = c2 * a3 + d2 * c3
    dm = c2 * b3 + d2 * d3
    upright = (am * dm * th > 0) & (bm * cm <= 0)
    # direction from dominant Trm axis (char_extraction.rs:94-104)
    horiz = np.abs(a) >= np.abs(b)
    direction = np.where(horiz, np.where(a >= 0, 0, 1), np.where(b > 0, 3, 2))

    # size = device-space bbox height for horizontal-mode fonts, width for
    # vertical-mode fonts (pdfminer LTChar semantics — the golden oracle);
    # equals Tfs on unrotated, unscaled text.
    is_vert = (vx != 0.0) | (vy != 0.0)
    rot = geom.rotation if geom is not None else 0
    if rot:
        # the unrotated boxes go back to native y-up space and through
        # the page rotation; direction turns with the page, and size
        # tracks the rotated box
        x0, top, x1, bottom = geom.normalize_bboxes(
            x0, page_height - bottom, x1, page_height - top)
        direction = _ROTATED_DIRECTION[rot][direction]
        if rot in (90, 270):
            upright = ~upright
        size = np.where(is_vert, x1 - x0, bottom - top)
    else:
        size = np.where(is_vert, x1 - x0, max_y - min_y)

    return CharColumns(
        x0, x1, top, bottom, top.copy(), size, upright, direction, text,
        np.repeat(np.arange(nruns), lens),
        np.arange(n) - np.repeat(starts, lens), runs)
