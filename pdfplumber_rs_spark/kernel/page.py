"""Per-page orchestration + page geometry (rotation normalization).

Mirrors crates/pdfplumber/src/pdf.rs:491-672 (page build) and
crates/pdfplumber-parse/src/page_geometry.rs (rotation pipeline:
MediaBox offset -> clockwise rotation -> y-flip).

A Page keeps its glyphs as one CharColumns (`Page.char_columns`, always
present), which words, text, tables, search and the spatial filters
read. `Page.chars`, the per-glyph dicts, is built from it on first
access and cached; the text path never builds it, and the extraction
kernel's `chars` section is this list as it is.
"""

from __future__ import annotations

import numpy as np

from ..config import ExtractOptions, TableSettings, TextOptions, WordOptions
from .chars import CharColumns, chars_from_events
from .layout import extract_text_from_words
from .shapes import derive_edges, extract_shapes
from .tables import find_tables
from .textnorm import apply_bidi_directions, dedupe_chars, normalize_chars
from .words import extract_words


class PageGeometry:
    """media_box = (x0, y_min, x1, y_max) in raw PDF coords."""

    def __init__(self, media_box: tuple, rotation: int) -> None:
        self.rotation = rotation % 360
        self.media_x0 = media_box[0]
        self.media_y0 = media_box[1]
        self.native_width = media_box[2] - media_box[0]
        self.native_height = media_box[3] - media_box[1]
        if self.rotation in (90, 270):
            self.display_width = abs(self.native_height)
            self.display_height = abs(self.native_width)
        else:
            self.display_width = abs(self.native_width)
            self.display_height = abs(self.native_height)

    def normalize_point(self, x: float, y: float) -> tuple[float, float]:
        px = x - self.media_x0
        py = y - self.media_y0
        r = self.rotation
        if r == 90:
            rx, ry = py, self.native_width - px
        elif r == 180:
            rx, ry = self.native_width - px, self.native_height - py
        elif r == 270:
            rx, ry = self.native_height - py, px
        else:
            rx, ry = px, py
        return rx, self.display_height - ry

    def normalize_bbox(self, min_x, min_y, max_x, max_y) -> tuple:
        x0, y0 = self.normalize_point(min_x, min_y)
        x1, y1 = self.normalize_point(max_x, max_y)
        return (min(x0, x1), min(y0, y1), max(x0, x1), max(y0, y1))

    def normalize_bboxes(self, min_x, min_y, max_x, max_y) -> tuple:
        """normalize_bbox over numpy columns (same min/max tie rules)."""
        x0, y0 = self.normalize_point(min_x, min_y)
        x1, y1 = self.normalize_point(max_x, max_y)
        return (np.where(x1 < x0, x1, x0), np.where(y1 < y0, y1, y0),
                np.where(x1 > x0, x1, x0), np.where(y1 > y0, y1, y0))


def _rotate_bbox(obj: dict, page_height: float, geom: PageGeometry) -> None:
    native_min_y = page_height - obj["bottom"]
    native_max_y = page_height - obj["top"]
    x0, top, x1, bottom = geom.normalize_bbox(obj["x0"], native_min_y, obj["x1"], native_max_y)
    obj["x0"], obj["top"], obj["x1"], obj["bottom"] = x0, top, x1, bottom


def _classify(obj: dict) -> str:
    dx = abs(obj["x1"] - obj["x0"])
    dy = abs(obj["bottom"] - obj["top"])
    if dy < 1e-6:
        return "h"
    if dx < 1e-6:
        return "v"
    return "d"


class Page:
    """One extracted page: chars/lines/rects/curves/edges + derived APIs."""

    def __init__(self, page_number: int, width: float, height: float,
                 rotation: int, char_columns: CharColumns, lines: list[dict],
                 rects: list[dict], curves: list[dict], images: list[dict],
                 warnings: list[str]) -> None:
        self.page_number = page_number  # 1-based like pdfplumber
        self.width = width
        self.height = height
        self.rotation = rotation
        self.char_columns = char_columns
        self._chars: list[dict] | None = None
        self._words: list[dict] | None = None
        self.lines = lines
        self.rects = rects
        self.curves = curves
        self.images = images
        self.warnings = warnings
        self._annotations: list[dict] | None = []
        self._hyperlinks: list[dict] | None = []
        # () -> (annotations, hyperlinks); dropped once it has run, so a
        # kept page does not pin the parsed document
        self._extras_thunk = None

    @property
    def chars(self) -> list[dict]:
        """Per-glyph dicts, built from the columns on first access: a
        snapshot, so editing them changes no words, text or tables."""
        if self._chars is None:
            self._chars = self.char_columns.to_dicts()
        return self._chars

    @property
    def words(self) -> list[dict]:
        """The default-option words, extracted on first access and kept:
        the page text and stream table detection both read them."""
        if self._words is None:
            self._words = self.extract_words()
        return self._words

    def _load_extras(self) -> None:
        self._annotations, self._hyperlinks = self._extras_thunk()
        self._extras_thunk = None

    @property
    def annotations(self) -> list[dict]:
        if self._annotations is None:
            self._load_extras()
        return self._annotations

    @annotations.setter
    def annotations(self, v: list[dict]) -> None:
        self._annotations = v

    @property
    def hyperlinks(self) -> list[dict]:
        if self._hyperlinks is None:
            self._load_extras()
        return self._hyperlinks

    @hyperlinks.setter
    def hyperlinks(self, v: list[dict]) -> None:
        self._hyperlinks = v

    def edges(self) -> list[dict]:
        return derive_edges(self.lines, self.rects, self.curves)

    def extract_words(self, options: WordOptions | None = None) -> list[dict]:
        return extract_words(self.char_columns, options)

    def search(self, pattern: str, regex: bool = True, case: bool = True) -> list[dict]:
        """P6: regex/literal search over the page's char stream
        (search.rs:59-145)."""
        from .docextras import search_chars

        return search_chars(self.char_columns, pattern, regex, case)

    def extract_text(self, options: TextOptions | None = None,
                     word_options: WordOptions | None = None) -> str:
        words = self.extract_words(word_options)
        return extract_text_from_words(words, options)

    def _table_words(self, settings: TableSettings | None,
                     word_options: WordOptions | None = None) -> list[dict]:
        """The words table detection reads: words feed ONLY the stream
        strategy (words_to_edges_v/h); lattice, lattice_strict and
        explicit never read them, so they are not extracted (a second
        word extraction was ~40% of text-page kernel time). With the
        default options they are the page's kept `words`."""
        if (settings or TableSettings()).strategy != "stream":
            return []
        if word_options is None:
            return self.words
        return self.extract_words(word_options)

    def find_tables(self, settings: TableSettings | None = None,
                    word_options: WordOptions | None = None) -> list[dict]:
        # cell text uses the default word options (oracle semantics —
        # rotation is already baked into the char coordinates)
        return find_tables(self.edges(),
                           self._table_words(settings, word_options),
                           self.char_columns, settings, word_options)

    def table_debug(self, settings: TableSettings | None = None) -> dict:
        """Per-stage counters of the stages find_tables runs (T15)."""
        from .tables import table_debug

        return table_debug(self.edges(), self._table_words(settings),
                           settings)

    def extract_tables(self, settings: TableSettings | None = None) -> list[list[list[str | None]]]:
        """Rows-of-cell-text form, matching golden JSON shape
        (scripts/generate_golden.py:84-104); a slot covered by a merged
        cell is None, as in pdfplumber."""
        return [
            [[c and c["text"] for c in row] for row in t["rows"]]
            for t in self.find_tables(settings)
        ]

    # -- spatial filters (P4: cropped_page.rs:251-334) ----------------------

    def _filtered(self, bbox: tuple, mode: str, width: float,
                  height: float) -> "Page":
        return Page(
            self.page_number, width, height, self.rotation,
            _filter_chars(self.char_columns, bbox, mode),
            _filter_objs(self.lines, bbox, mode),
            _filter_objs(self.rects, bbox, mode),
            _filter_objs(self.curves, bbox, mode),
            self.images, self.warnings,
        )

    def crop(self, bbox: tuple) -> "Page":
        """Center-in-bbox filter with coordinates re-based to crop origin."""
        return self._filtered(bbox, "center", bbox[2] - bbox[0],
                              bbox[3] - bbox[1])

    def within_bbox(self, bbox: tuple) -> "Page":
        return self._filtered(bbox, "within", bbox[2] - bbox[0],
                              bbox[3] - bbox[1])

    def outside_bbox(self, bbox: tuple) -> "Page":
        return self._filtered(bbox, "outside", self.width, self.height)


def _keep_mask(x0, top, x1, bottom, bbox: tuple, mode: str):
    """Which boxes a spatial filter keeps, over coordinate arrays."""
    bx0, btop, bx1, bbottom = bbox
    if mode == "center":
        cx = (x0 + x1) / 2.0
        cy = (top + bottom) / 2.0
        return (bx0 <= cx) & (cx <= bx1) & (btop <= cy) & (cy <= bbottom)
    if mode == "within":
        return (x0 >= bx0) & (x1 <= bx1) & (top >= btop) & (bottom <= bbottom)
    # outside: no overlap
    return (x1 < bx0) | (x0 > bx1) | (bottom < btop) | (top > bbottom)


def _filter_objs(objs: list[dict], bbox: tuple, mode: str) -> list[dict]:
    """Kept objects; crop/within re-base copies to the bbox origin."""
    keep = _keep_mask(*(np.array([o[k] for o in objs], np.float64)
                        for k in ("x0", "top", "x1", "bottom")), bbox, mode)
    out = [o for o, k in zip(objs, keep.tolist()) if k]
    if mode == "outside":
        return out
    out = [dict(o) for o in out]
    for o in out:
        o["x0"] -= bbox[0]
        o["x1"] -= bbox[0]
        o["top"] -= bbox[1]
        o["bottom"] -= bbox[1]
        if "doctop" in o:
            o["doctop"] = o["top"]
    return out


def _filter_chars(cols: CharColumns, bbox: tuple, mode: str) -> CharColumns:
    """_filter_objs over the char columns: one mask, one take; a re-based
    glyph's doctop is its re-based top."""
    out = cols.take(_keep_mask(cols.x0, cols.top, cols.x1, cols.bottom,
                               bbox, mode))
    if mode != "outside":
        out.x0 = out.x0 - bbox[0]
        out.x1 = out.x1 - bbox[0]
        out.top = out.top - bbox[1]
        out.bottom = out.bottom - bbox[1]
        out.doctop = out.top.copy()
    return out


def build_page(page_number: int, geom: PageGeometry, raw_page_height: float,
               char_events: list, painted_paths: list, image_events: list,
               options: ExtractOptions, warnings: list[str]) -> Page:
    """CharRuns/paths -> Page with normalized coordinates."""
    needs_rotation = geom.rotation != 0

    chars = chars_from_events(char_events, raw_page_height, geom)
    apply_bidi_directions(chars)  # direction only
    if options.unicode_norm is not None:
        normalize_chars(chars, options.unicode_norm)  # text only
    if options.dedupe is not None:
        chars = dedupe_chars(chars, options.dedupe.tolerance,
                             options.dedupe.extra_attrs)

    all_lines: list[dict] = []
    all_rects: list[dict] = []
    all_curves: list[dict] = []
    for painted in painted_paths:
        lines, rects, curves = extract_shapes(painted, raw_page_height)
        all_lines.extend(lines)
        all_rects.extend(rects)
        all_curves.extend(curves)
    if needs_rotation:
        for o in all_lines:
            _rotate_bbox(o, raw_page_height, geom)
            o["orientation"] = _classify(o)
        for o in all_rects + all_curves:
            _rotate_bbox(o, raw_page_height, geom)
            if "pts" in o:
                o["pts"] = [
                    geom.normalize_bbox(px, raw_page_height - py, px, raw_page_height - py)[:2]
                    for (px, py) in o["pts"]
                ]

    images: list[dict] = []
    n_inline = 0
    for ev in image_events:
        # bbox = CTM unit-square transform (images.rs:71)
        a, b, c, d, e, f = ev.ctm
        xs = [e, a + e, c + e, a + c + e]
        ys = [f, b + f, d + f, b + d + f]
        x0, x1 = min(xs), max(xs)
        top = raw_page_height - max(ys)
        bottom = raw_page_height - min(ys)
        data = None
        if ev.inline and getattr(ev, "data", None):
            # S9 image content (pdf.rs:397-405): decode the inline
            # payload through the named filter chain
            from .filters import _DECODERS, NO_CAP

            data = ev.data
            f = _DECODERS.get(ev.filter)
            if f is not None:
                try:
                    data = f(data, NO_CAP, warnings)
                except Exception:  # noqa: BLE001 — keep raw on failure
                    pass
        if ev.inline:
            # inline images get a synthetic counter name (images.rs:
            # inline-N convention, matched by real_world_integration.rs)
            name = f"inline-{n_inline}"
            n_inline += 1
        else:
            name = ev.name
        img = {"name": name,
               "x0": x0, "top": top, "x1": x1, "bottom": bottom,
               "src_width": ev.src_width, "src_height": ev.src_height,
               "colorspace": ev.colorspace, "filter": ev.filter,
               "bits_per_component": ev.bits,
               "inline": ev.inline, "data": data}
        if needs_rotation:
            _rotate_bbox(img, raw_page_height, geom)
        images.append(img)

    return Page(
        page_number, geom.display_width, geom.display_height, geom.rotation,
        chars, all_lines, all_rects, all_curves, images, warnings,
    )
