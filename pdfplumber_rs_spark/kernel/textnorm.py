"""Text post-processing: ligatures, unicode normalization, char dedupe,
BiDi-lite direction marking.

Reference parity:
- ligature expansion: words.rs:376-392
- normalize_chars: unicode_norm.rs:35-70 (default NFC)
- dedupe_chars: dedupe.rs:50-88 (tol 1.0, extra attrs fontname+size,
  sequential first-wins semantics)
- apply_bidi_directions: bidi.rs:30-96 (strong-RTL chars on a visual
  line get direction=rtl; vertical/non-upright chars untouched)
"""

from __future__ import annotations

import unicodedata

import numpy as np

from .chars import CharColumns

_LIGATURES = {
    "ﬀ": "ff",
    "ﬁ": "fi",
    "ﬂ": "fl",
    "ﬃ": "ffi",
    "ﬄ": "ffl",
    "ﬅ": "ſt",
    "ﬆ": "st",
}


import re as _re

_LIG_RE = _re.compile("[" + "".join(_LIGATURES) + "]")
# strong-RTL presence prescreen (mirrors _is_strong_rtl's ranges) — a
# compiled character-class search is C-speed vs a per-char genexpr
_RTL_RE = _re.compile(
    "[\u0590-\u08ff\ufb1d-\ufdff\ufe70-\ufeff\U0001ee00-\U0001eeff]")


def expand_ligatures(text: str) -> str:
    if _LIG_RE.search(text) is None:
        return text
    return "".join(_LIGATURES.get(ch, ch) for ch in text)


def normalize_chars(cols: CharColumns, form: str | None) -> CharColumns:
    """Unicode-normalise every glyph text in place (each distinct text
    once)."""
    if form is None:
        return cols
    f = form.upper()
    changed = {t: u for t in set(cols.text)
               if (u := unicodedata.normalize(f, t)) != t}
    if changed:
        cols.text = [changed.get(t, t) for t in cols.text]
    return cols


def _column_keys(cols: CharColumns, extra_attrs: tuple):
    """Per-glyph dedupe base keys: equal ints iff the (text, *attrs)
    tuples are equal. The default attrs pack text/fontname/size ids into
    one int; anything else (other attrs, non-finite sizes, whose NaNs
    never compare equal) keys by the dict-path tuples."""
    if extra_attrs != ("fontname", "size") or not np.isfinite(cols.size).all():
        return [(c["text"],) + tuple(c.get(a) for a in extra_attrs)
                for c in cols.to_dicts()]
    tid = cols.text_codes()
    if tid is None:
        tid = _dense_ids(cols.text)
    fid = _dense_ids([r.font_name for r in cols.runs])[cols.run]
    sizes, sid = np.unique(cols.size, return_inverse=True)
    return (tid * len(cols.runs) + fid) * len(sizes) + sid


def _dense_ids(keys) -> np.ndarray:
    """Ids 0..k-1, equal iff the keys are equal."""
    if isinstance(keys, np.ndarray):
        return np.unique(keys, return_inverse=True)[1]
    seen: dict = {}
    return np.fromiter((seen.setdefault(k, len(seen)) for k in keys),
                       np.int64, len(keys))


def _collision_flags(gids, x0, top, t):
    """Vectorized prescreen: True where a char COULD be within tolerance
    of another char with the same base key (same or 3×3-adjacent grid
    cell). Chars not flagged can never be dropped — and can never drop
    anyone — so the exact sequential pass only needs to visit flagged
    chars. Returns None when the coordinates don't fit the packed-int
    layout (fallback to the full pass)."""
    n = len(gids)
    if gids.max() >= 1 << 20:
        return None
    if not (np.isfinite(x0).all() and np.isfinite(top).all()):
        return None
    bx = np.floor(x0 / t)
    by = np.floor(top / t)
    bx -= bx.min()
    by -= by.min()
    if bx.max() >= (1 << 20) - 2 or by.max() >= (1 << 20) - 2:
        return None
    key = (gids << 42) | (bx.astype(np.int64) + 1 << 21) | (
        by.astype(np.int64) + 1)
    # probe in sorted order (the needles are sorted too, so every
    # searchsorted walks the array once), one key range per neighbour
    # column: cells (bx+dx, by-1 .. by+1) are consecutive keys
    order = np.argsort(key)
    a = key[order]
    sx = 1 << 21
    # own column: some key in [k-1, k+1] other than this char itself
    flag = (np.searchsorted(a, a + 1, "right")
            - np.searchsorted(a, a - 1, "left")) > 1
    for dx in (-sx, sx):
        pos = np.searchsorted(a, a + dx - 1)
        flag |= (pos < n) & (a[np.minimum(pos, n - 1)] <= a + dx + 1)
    out = np.empty(n, np.bool_)
    out[order] = flag
    return out


def dedupe_chars(chars: CharColumns, tolerance: float = 1.0,
                 extra_attrs: tuple[str, ...] = ("fontname", "size")
                 ) -> CharColumns:
    """Drop a char if an earlier kept char has identical text, matching
    extra attrs, and |dx0| <= tol and |dtop| <= tol (dedupe.rs:50-88)."""
    ids = _dense_ids(_column_keys(chars, extra_attrs))
    # spatial hash on (key, x0//tol, top//tol): a match within tolerance
    # always lives in one of the 3×3 neighbor buckets, so this is O(n)
    # with semantics identical to the full scan
    t = tolerance if tolerance > 0 else 1e-9
    flags = None
    if len(ids) >= 64:
        # vectorized prescreen: in the common no-duplicate case the
        # 9-probe dict walk below never runs at all
        flags = _collision_flags(ids, chars.x0, chars.top, t)
        if flags is not None and not flags.any():
            return chars
    return chars.take(_dedupe_pass(ids.tolist(), chars.x0.tolist(),
                                   chars.top.tolist(), tolerance, t, flags))


def _dedupe_pass(keys, x0, top, tolerance, t, flags) -> list[int]:
    """Sequential first-wins pass; returns the kept indices. With
    `flags`, only flagged chars are visited (the rest are kept)."""
    flagged = None if flags is None else flags.tolist()
    kept: list[int] = []
    # two-level hash: base key once per char, then single INT cell keys
    # (bx*2^32+by) for the 3x3 probe — int dict lookups beat per-probe
    # tuple allocation
    buckets: dict = {}
    shift = 1 << 32
    for i, base in enumerate(keys):
        if flagged is not None and not flagged[i]:
            # prescreen proved nothing is within tolerance of this char
            kept.append(i)
            continue
        cx = x0[i]
        ctop = top[i]
        cell = int(cx // t) * shift + int(ctop // t)
        grid = buckets.get(base)
        dup = False
        if grid is not None:
            for dcell in (cell - shift - 1, cell - shift, cell - shift + 1,
                          cell - 1, cell, cell + 1,
                          cell + shift - 1, cell + shift, cell + shift + 1):
                for kx, ktop in grid.get(dcell, ()):
                    if abs(kx - cx) <= tolerance and abs(ktop - ctop) <= tolerance:
                        dup = True
                        break
                if dup:
                    break
        if not dup:
            kept.append(i)
            if grid is None:
                grid = {}
                buckets[base] = grid
            lst = grid.get(cell)
            if lst is None:
                grid[cell] = [(cx, ctop)]
            else:
                lst.append((cx, ctop))
    return kept


# ---------------------------------------------------------------------------
# BiDi-lite

def _is_strong_rtl(ch: str) -> bool:
    o = ord(ch)
    return (
        0x0590 <= o <= 0x08FF  # Hebrew..Arabic Extended-A (incl. Syriac etc.)
        or 0xFB1D <= o <= 0xFDFF
        or 0xFE70 <= o <= 0xFEFF
        or 0x1EE00 <= o <= 0x1EEFF
    )


_ARABIC_DIACRITIC_RANGES = (
    (0x0610, 0x061A),
    (0x064B, 0x065F),
    (0x0670, 0x0670),
    (0x06D6, 0x06DC),
    (0x06DF, 0x06E4),
    (0x06E7, 0x06E8),
    (0x06EA, 0x06ED),
    (0x08D3, 0x08FF),
)


def is_arabic_diacritic(ch: str) -> bool:
    o = ord(ch)
    return any(lo <= o <= hi for lo, hi in _ARABIC_DIACRITIC_RANGES)


def is_arabic_diacritic_text(text: str) -> bool:
    return bool(text) and all(is_arabic_diacritic(c) for c in text)


def apply_bidi_directions(cols: CharColumns) -> CharColumns:
    """Mark strong-RTL glyphs (and Arabic diacritics on a line with
    them) rtl, in place; vertical and non-upright glyphs are left.
    Glyphs whose vertical centers lie within 3pt share a line."""
    text = cols.text
    if not text or _RTL_RE.search("".join(text)) is None:
        return cols

    # group into lines by vertical center (bidi.rs:159-191)
    centers = ((cols.top + cols.bottom) / 2.0).tolist()
    order = sorted(range(len(text)), key=centers.__getitem__)
    groups: list[list[int]] = []
    cur: list[int] = [order[0]]
    cur_center = centers[order[0]]
    for idx in order[1:]:
        center = centers[idx]
        if abs(center - cur_center) <= 3.0:
            cur.append(idx)
        else:
            groups.append(cur)
            cur = [idx]
            cur_center = center
    groups.append(cur)

    x0 = cols.x0.tolist()
    upright = cols.upright.tolist()
    direction = cols.direction
    for group in groups:
        group.sort(key=x0.__getitem__)
        # simplified UAX#9: strong-RTL chars and diacritics between them → rtl
        strong = [any(_is_strong_rtl(c) for c in text[i]) for i in group]
        if not any(strong):
            continue
        for gpos, i in enumerate(group):
            if not upright[i] or direction[i] >= 2:  # ttb/btt
                continue
            if strong[gpos] or is_arabic_diacritic_text(text[i]):
                direction[i] = 1  # rtl
    return cols
