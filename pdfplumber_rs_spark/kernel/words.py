"""Word extraction with Python-pdfplumber 0.11.x semantics (the golden
oracle; the Rust reference's cluster-sort in words.rs:71-392 is an
approximation of the same behavior, validated at ≥95% — we match the
oracle exactly):

- chars are pre-ordered (pdfplumber's iter_sort_chars) unless use_text_flow:
  upright chars cluster by doctop (stable chained clustering with
  y_tolerance) then sort within line by x0; non-upright chars cluster
  by x0 and sort within column by doctop (stable → stream order for
  ties, which is what preserves mirrored/negative-scaling text runs).
- a char starts a new word when it falls outside the current word's
  bbox grown by x_tolerance along the reading axis and y_tolerance
  across it (tolerances swap for non-upright text).
- blank chars split words unless keep_blank_chars; ligatures expand.

Words are read off a page's CharColumns and carry no `chars` member
(pdfplumber's return_chars=False); `words_and_members` gives the chars.
"""

from __future__ import annotations

import numpy as np

from ..config import WordOptions
from .chars import DIRECTIONS, CharColumns
from .textnorm import _LIG_RE, expand_ligatures

def cluster_objects(objs: list, keyf, tolerance: float) -> list[list]:
    """pdfplumber's clustering: chain the UNIQUE key values (sorted,
    within tolerance of the previous value) into cluster ids, then
    stable-group the objects by cluster id — stream order is preserved
    WITHIN each cluster (this is load-bearing for mirrored text)."""
    if not objs:
        return []
    cluster_of = cluster_value_ids([keyf(o) for o in objs], tolerance)
    groups: list[list] = [[] for _ in range(max(cluster_of.values()) + 1)]
    for o in objs:
        groups[cluster_of[keyf(o)]].append(o)
    return groups


def cluster_value_ids(values: list, tolerance: float) -> dict:
    """pdfplumber's make_cluster_dict: chain the UNIQUE values (sorted,
    within tolerance of the previous value) into cluster ids."""
    uniq = sorted(set(values))
    cluster_of: dict = {}
    cid = 0
    last = uniq[0]
    cluster_of[uniq[0]] = 0
    for v in uniq[1:]:
        if v > last + tolerance:
            cid += 1
        cluster_of[v] = cid
        last = v
    return cluster_of


def _sequential_order(cols: CharColumns, y_tol: float,
                      horizontal_ltr: bool = True,
                      vertical_ttb: bool = True) -> list[int]:
    """pdfplumber's iter_sort_chars over glyph indices."""
    import itertools

    up = cols.upright.tolist()
    doctop = cols.doctop.tolist()
    x0 = cols.x0.tolist()
    out: list[int] = []
    # upright grouping is by CONSECUTIVE RUNS in stream order (derived
    # byte-exact vs goldens with interleaved mirrored text, issue-90):
    # each run is line-clustered and sorted independently and stays at
    # its stream position
    for upright, run in itertools.groupby(range(len(up)), key=up.__getitem__):
        key, sec = (doctop, x0) if upright else (x0, doctop)
        for line in cluster_objects(list(run), key.__getitem__, y_tol):
            ordered = sorted(line, key=sec.__getitem__)
            if (upright and not horizontal_ltr) or (not upright and not vertical_ttb):
                ordered.reverse()
            out.extend(ordered)
    return out


def _order_perm(cols: CharColumns, y_tol: float):
    """Vectorized twin of _sequential_order for the default direction
    flags: returns the ordering PERMUTATION as a numpy index array.
    Semantics identical — consecutive upright runs (stream order), each
    run clustered by pdfplumber's unique-value chaining on the primary
    key (doctop upright / x0 vertical, y_tolerance both ways), clusters
    in ascending-key order, stable sort by the secondary key within a
    line — expressed as one stable lexsort over (run, cluster, key2)."""
    up, doctop, x0 = cols.upright, cols.doctop, cols.x0
    n = len(up)
    run_change = np.empty(n, np.bool_)
    run_change[0] = True
    run_change[1:] = up[1:] != up[:-1]
    run_id = np.cumsum(run_change) - 1
    key = np.where(up, doctop, x0)
    sec = np.where(up, x0, doctop)
    clust = np.empty(n, np.int64)
    starts = np.nonzero(run_change)[0]
    ends = np.append(starts[1:], n)
    for s, e in zip(starts.tolist(), ends.tolist()):
        vals = key[s:e]
        uniq = np.unique(vals)
        if uniq.size == 1:
            clust[s:e] = 0
            continue
        brk = np.empty(uniq.size, np.bool_)
        brk[0] = False
        # cluster_value_ids' test (v > last + tol), not a difference:
        # uniq[1:] - uniq[:-1] > tol can round the other way
        brk[1:] = uniq[1:] > uniq[:-1] + y_tol
        cid = np.cumsum(brk)
        clust[s:e] = cid[np.searchsorted(uniq, vals)]
    return np.lexsort((sec, clust, run_id))  # stable → stream-order ties


# str.isspace by code point; no whitespace lies above U+3000
_SPACE = np.array([chr(c).isspace() for c in range(0x3001)])


def _blank(cols: CharColumns):
    """Per-glyph flag: empty or whitespace-only text."""
    codes = cols.text_codes()
    if codes is not None:
        return _SPACE[np.minimum(codes, 0x3000)] & (codes <= 0x3000)
    blanks = {t for t in set(cols.text) if not t or t.isspace()}
    return np.fromiter(map(blanks.__contains__, cols.text), np.bool_,
                       len(cols))


def _split_vectorized(cols: CharColumns, order, options: WordOptions):
    """Vectorized twin of the sequential splitter for the common
    (keep_blank_chars=False) case: the per-char begins-new-word
    predicate only looks at the IMMEDIATE predecessor, so the split
    mask, word boundaries, and per-word bboxes all vectorize (shifted
    comparisons + minimum/maximum.reduceat). Semantics identical: a
    blank drops and forces the next char to start a word."""
    order = np.asarray(order)
    blank = _blank(cols)[order]
    x0, x1 = cols.x0[order], cols.x1[order]
    top, bot = cols.top[order], cols.bottom[order]
    up = cols.upright[order]
    xt, yt = options.x_tolerance, options.y_tolerance
    px0, px1, ptop, pbot, pup = x0[:-1], x1[:-1], top[:-1], bot[:-1], up[:-1]
    cx0, ctop = x0[1:], top[1:]
    split_h = ((cx0 < px0) | (cx0 > px1 + xt)
               | (ctop > ptop + yt) | (ctop < ptop - yt))
    split_v = ((ctop < ptop) | (ctop > pbot + yt)
               | (cx0 > px0 + xt) | (cx0 < px0 - xt))
    begins = np.empty(len(order), np.bool_)
    begins[0] = True
    begins[1:] = blank[:-1] | np.where(pup, split_h, split_v)
    nb = np.nonzero(~blank)[0]
    if nb.size == 0:
        return [], [], [0]
    starts_mask = begins[nb]
    starts_mask[0] = True
    seg_starts = np.nonzero(starts_mask)[0]  # offsets into nb
    wx0 = np.minimum.reduceat(x0[nb], seg_starts).tolist()
    wtop = np.minimum.reduceat(top[nb], seg_starts).tolist()
    wx1 = np.maximum.reduceat(x1[nb], seg_starts).tolist()
    wbot = np.maximum.reduceat(bot[nb], seg_starts).tolist()
    wdoc = np.minimum.reduceat(cols.doctop[order][nb], seg_starts).tolist()
    members = order[nb]
    first = members[seg_starts]
    wdir = list(map(DIRECTIONS.__getitem__, cols.direction[first].tolist()))
    wup = cols.upright[first].tolist()
    members = members.tolist()
    text = cols.text
    ntext = [text[i] for i in members]
    bounds = seg_starts.tolist() + [len(members)]
    wtext = ["".join(ntext[a:b]) for a, b in zip(bounds, bounds[1:])]
    if options.expand_ligatures and _LIG_RE.search("".join(ntext)):
        wtext = [expand_ligatures(t) for t in wtext]
    words = [
        {"text": t, "x0": a, "top": b, "x1": c, "bottom": d, "doctop": e,
         "direction": f, "upright": g}
        for t, a, b, c, d, e, f, g in zip(wtext, wx0, wtop, wx1, wbot, wdoc,
                                          wdir, wup)
    ]
    return words, members, bounds


def _split_sequential(cols: CharColumns, order, options: WordOptions):
    """pdfplumber's splitter, one glyph at a time: a char starts a new
    word when it starts before the PREVIOUS CHAR (not the word's running
    bbox — a wide glyph like 'M' overlapping the next char must not mask
    a real gap after the following comma), beyond its end + intraline
    tolerance, or off its cross-axis line. Blanks split words unless
    keep_blank_chars."""
    x0, x1 = cols.x0.tolist(), cols.x1.tolist()
    top, bottom = cols.top.tolist(), cols.bottom.tolist()
    doctop, up = cols.doctop.tolist(), cols.upright.tolist()
    text = cols.text
    x_tol, y_tol = options.x_tolerance, options.y_tolerance
    keep_blank = options.keep_blank_chars
    do_lig = options.expand_ligatures
    words: list[dict] = []
    members: list[int] = []
    bounds = [0]
    current: list[int] = []
    bbox: list = [0.0, 0.0, 0.0, 0.0]

    def close() -> None:
        wtext = "".join(text[i] for i in current)
        if do_lig:
            wtext = expand_ligatures(wtext)
        first = current[0]
        words.append({
            "text": wtext, "x0": bbox[0], "top": bbox[1], "x1": bbox[2],
            "bottom": bbox[3], "doctop": min(doctop[i] for i in current),
            "direction": DIRECTIONS[cols.direction[first]],
            "upright": up[first],
        })
        members.extend(current)
        bounds.append(len(members))

    for i in np.asarray(order).tolist():
        t = text[i]
        if (not t or t.isspace()) and not keep_blank:
            if current:
                close()
                current = []
            continue
        if current:
            p = current[-1]
            if up[p]:
                new = (x0[i] < x0[p] or x0[i] > x1[p] + x_tol
                       or top[i] > top[p] + y_tol or top[i] < top[p] - y_tol)
            else:  # non-upright: reading axis is y (ttb), cross axis is x0
                new = (top[i] < top[p] or top[i] > bottom[p] + y_tol
                       or x0[i] > x0[p] + x_tol or x0[i] < x0[p] - x_tol)
            if not new:
                bbox[0] = min(bbox[0], x0[i])
                bbox[1] = min(bbox[1], top[i])
                bbox[2] = max(bbox[2], x1[i])
                bbox[3] = max(bbox[3], bottom[i])
                current.append(i)
                continue
            close()
        current = [i]
        bbox[:] = x0[i], top[i], x1[i], bottom[i]
    if current:
        close()
    return words, members, bounds


def words_and_members(cols: CharColumns,
                      options: WordOptions | None = None):
    """(words, members, bounds): word k's chars are
    members[bounds[k]:bounds[k + 1]], indices into `cols`."""
    if options is None:
        options = WordOptions()
    n = len(cols)
    if n == 0:
        return [], [], [0]
    if options.use_text_flow:
        order = range(n)
    elif options.text_direction in ("rtl", "btt") or n < 64:
        # reversal flags / tiny pages: the sequential reference path
        order = _sequential_order(
            cols, options.y_tolerance,
            horizontal_ltr=options.text_direction != "rtl",
            vertical_ttb=options.text_direction != "btt",
        )
    else:
        order = _order_perm(cols, options.y_tolerance)
    if not options.keep_blank_chars and n >= 64:
        return _split_vectorized(cols, order, options)
    return _split_sequential(cols, order, options)


def extract_words(chars: CharColumns,
                  options: WordOptions | None = None) -> list[dict]:
    """Words of a CharColumns."""
    return words_and_members(chars, options)[0]
