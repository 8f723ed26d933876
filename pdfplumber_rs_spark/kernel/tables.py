"""Table detection pipeline.

Semantics follow Python pdfplumber's public ``table.py`` algorithms (the
golden oracle the reference validates against — see
crates/pdfplumber/tests/cross_validation.rs:95-140 and
scripts/generate_golden.py): snap-to-cluster-average, join collinear
edges, intersections with per-vertex edge sets, smallest-rect cell
search, corner-sharing table grouping, None-padded rows, and half-open
char-center-in-bbox text extraction. The Rust reference implements the
same pipeline shape in crates/pdfplumber-core/src/table.rs (snap_edges
199-267, join_edge_group 277-390, edges_to_intersections 410-452,
cells 468-665, cells_to_tables 674-799, per-cell text 1026-1136).
"""

from __future__ import annotations

import math
from itertools import groupby

from ..config import TableSettings, WordOptions
from .chars import CharColumns
from .words import extract_words


def edge_length(e: dict) -> float:
    return math.hypot(e["x1"] - e["x0"], e["bottom"] - e["top"])


def cluster_values(vals: list[float], tolerance: float) -> list[list[int]]:
    """Chained (single-link) clustering of sorted values: a value joins the
    current cluster when it is within tolerance of the PREVIOUS value."""
    idxs = sorted(range(len(vals)), key=lambda i: vals[i])
    groups: list[list[int]] = []
    for i in idxs:
        if groups and vals[i] <= vals[groups[-1][-1]] + tolerance:
            groups[-1].append(i)
        else:
            groups.append([i])
    return groups


def snap_edges(edges: list[dict], snap_x: float, snap_y: float) -> list[dict]:
    """Cluster parallel edges along the perpendicular axis; move each
    cluster to its average coordinate."""
    out = [e for e in edges if e["orientation"] not in ("h", "v")]

    def snap(group: list[dict], key: str, tol: float, setter) -> None:
        if not group or tol <= 0:
            out.extend(group)
            return
        vals = [e[key] for e in group]
        for cluster in cluster_values(vals, tol):
            avg = sum(vals[i] for i in cluster) / len(cluster)
            for i in cluster:
                e = dict(group[i])
                setter(e, avg)
                out.append(e)

    snap(
        [e for e in edges if e["orientation"] == "v"],
        "x0", snap_x, lambda e, v: e.update(x0=v, x1=v),
    )
    snap(
        [e for e in edges if e["orientation"] == "h"],
        "top", snap_y, lambda e, v: e.update(top=v, bottom=v),
    )
    return out


def join_edge_group(edges: list[dict], orientation: str, tolerance: float) -> list[dict]:
    """Merge collinear segments whose gap <= tolerance (interval sweep)."""
    if orientation == "h":
        min_prop, max_prop = "x0", "x1"
    else:
        min_prop, max_prop = "top", "bottom"
    sorted_edges = sorted(edges, key=lambda e: e[min_prop])
    joined = [dict(sorted_edges[0])]
    for e in sorted_edges[1:]:
        last = joined[-1]
        if e[min_prop] <= last[max_prop] + tolerance:
            if e[max_prop] > last[max_prop]:
                last[max_prop] = e[max_prop]
        else:
            joined.append(dict(e))
    return joined


def merge_edges(edges: list[dict], snap_x: float, snap_y: float,
                join_x: float, join_y: float) -> list[dict]:
    def get_group(e: dict):
        if e["orientation"] == "h":
            return ("h", e["top"])
        return ("v", e["x0"])

    if snap_x > 0 or snap_y > 0:
        edges = snap_edges(edges, snap_x, snap_y)
    hv = sorted((e for e in edges if e["orientation"] in ("h", "v")),
                key=get_group)
    out: list[dict] = []
    for (orientation, _k), items in groupby(hv, key=get_group):
        tol = join_x if orientation == "h" else join_y
        out.extend(join_edge_group(list(items), orientation, tol))
    return out


def edges_to_intersections(edges: list[dict], x_tol: float, y_tol: float) -> dict:
    """{(x, y): {"v": [edges], "h": [edges]}} for every V×H crossing."""
    intersections: dict[tuple, dict] = {}
    v_edges = sorted((e for e in edges if e["orientation"] == "v"),
                     key=lambda e: (e["x0"], e["top"]))
    h_edges = sorted((e for e in edges if e["orientation"] == "h"),
                     key=lambda e: (e["top"], e["x0"]))
    for v in v_edges:
        for h in h_edges:
            if (
                v["top"] <= h["top"] + y_tol
                and v["bottom"] >= h["top"] - y_tol
                and v["x0"] >= h["x0"] - x_tol
                and v["x0"] <= h["x1"] + x_tol
            ):
                vertex = (v["x0"], h["top"])
                if vertex not in intersections:
                    intersections[vertex] = {"v": [], "h": []}
                intersections[vertex]["v"].append(v)
                intersections[vertex]["h"].append(h)
    return intersections


def _edge_key(e: dict) -> tuple:
    return (e["x0"], e["top"], e["x1"], e["bottom"])


def intersections_to_cells(intersections: dict) -> list[tuple]:
    """Smallest-rect search: for each vertex, the minimal (x0, top, x1,
    bottom) whose 4 corners are all intersections connected by shared
    edges. Merged cells stay merged (no grid completion)."""

    def edge_connects(p1: tuple, p2: tuple) -> bool:
        if p1[0] == p2[0]:
            common = {_edge_key(e) for e in intersections[p1]["v"]} & {
                _edge_key(e) for e in intersections[p2]["v"]
            }
            if common:
                return True
        if p1[1] == p2[1]:
            common = {_edge_key(e) for e in intersections[p1]["h"]} & {
                _edge_key(e) for e in intersections[p2]["h"]
            }
            if common:
                return True
        return False

    points = sorted(intersections.keys())
    n = len(points)

    def find_smallest_cell(i: int):
        if i == n - 1:
            return None
        pt = points[i]
        rest = points[i + 1:]
        below = [x for x in rest if x[0] == pt[0]]
        right = [x for x in rest if x[1] == pt[1]]
        for below_pt in below:
            if not edge_connects(pt, below_pt):
                continue
            for right_pt in right:
                if not edge_connects(pt, right_pt):
                    continue
                bottom_right = (right_pt[0], below_pt[1])
                if (
                    bottom_right in intersections
                    and edge_connects(bottom_right, right_pt)
                    and edge_connects(bottom_right, below_pt)
                ):
                    return (pt[0], pt[1], right_pt[0], below_pt[1])
        return None

    cells = [find_smallest_cell(i) for i in range(n)]
    return [c for c in cells if c is not None]


def cells_to_tables(cells: list[tuple]) -> list[list[tuple]]:
    """Group cells into tables by iteratively absorbing any cell sharing a
    corner with the current group (order-dependent, matches oracle)."""

    def bbox_to_corners(bbox: tuple) -> list[tuple]:
        x0, top, x1, bottom = bbox
        return [(x0, top), (x0, bottom), (x1, top), (x1, bottom)]

    # seed top-down/left-right so tables come out in reading order
    remaining = sorted(cells, key=lambda c: (c[1], c[0]))
    current_corners: set[tuple] = set()
    current_cells: list[tuple] = []
    tables: list[list[tuple]] = []
    while remaining:
        initial_count = len(current_cells)
        for cell in list(remaining):
            corners = bbox_to_corners(cell)
            if not current_cells:
                current_corners.update(corners)
                current_cells.append(cell)
                remaining.remove(cell)
            else:
                if sum(c in current_corners for c in corners) > 0:
                    current_corners.update(corners)
                    current_cells.append(cell)
                    remaining.remove(cell)
        if len(current_cells) == initial_count:
            tables.append(list(current_cells))
            current_corners.clear()
            current_cells.clear()
    if current_cells:
        tables.append(list(current_cells))
    return [t for t in tables if len(t) > 1]


# -- stream strategy ----------------------------------------------------------

def _objects_to_bbox(objs: list[dict]) -> tuple:
    return (
        min(o["x0"] for o in objs),
        min(o["top"] for o in objs),
        max(o["x1"] for o in objs),
        max(o["bottom"] for o in objs),
    )


def _bbox_overlap(a: tuple, b: tuple) -> bool:
    return a[0] < b[2] and b[0] < a[2] and a[1] < b[3] and b[1] < a[3]


def words_to_edges_v(words: list[dict], word_threshold: int) -> list[dict]:
    """Words sharing left/right/center x → vertical edges spanning the
    joint extent, plus a closing right edge."""
    if not words:
        return []
    clusters = []
    for keyf in (
        lambda w: w["x0"],
        lambda w: w["x1"],
        lambda w: (w["x0"] + w["x1"]) / 2.0,
    ):
        vals = [keyf(w) for w in words]
        clusters.extend(
            [[words[i] for i in g] for g in cluster_values(vals, 1.0)]
        )
    clusters.sort(key=len, reverse=True)
    large = [c for c in clusters if len(c) >= word_threshold]
    bboxes = [_objects_to_bbox(c) for c in large]
    condensed: list[tuple] = []
    for bbox in bboxes:
        if not any(_bbox_overlap(bbox, c) for c in condensed):
            condensed.append(bbox)
    if not condensed:
        return []
    condensed.sort(key=lambda b: b[0])
    max_x1 = max(b[2] for b in condensed)
    min_top = min(b[1] for b in condensed)
    max_bottom = max(b[3] for b in condensed)
    edges = [
        {"x0": b[0], "top": min_top, "x1": b[0], "bottom": max_bottom,
         "orientation": "v", "source": "stream"}
        for b in condensed
    ]
    edges.append(
        {"x0": max_x1, "top": min_top, "x1": max_x1, "bottom": max_bottom,
         "orientation": "v", "source": "stream"}
    )
    return edges


def words_to_edges_h(words: list[dict], word_threshold: int) -> list[dict]:
    """Words sharing top → a horizontal edge at the row's top and bottom,
    all spanning the joint x-range."""
    if not words:
        return []
    vals = [w["top"] for w in words]
    clusters = [[words[i] for i in g] for g in cluster_values(vals, 1.0)]
    large = [c for c in clusters if len(c) >= word_threshold]
    rects = [_objects_to_bbox(c) for c in large]
    if not rects:
        return []
    min_x0 = min(r[0] for r in rects)
    max_x1 = max(r[2] for r in rects)
    edges: list[dict] = []
    for r in rects:
        edges.append({"x0": min_x0, "top": r[1], "x1": max_x1, "bottom": r[1],
                      "orientation": "h", "source": "stream"})
        edges.append({"x0": min_x0, "top": r[3], "x1": max_x1, "bottom": r[3],
                      "orientation": "h", "source": "stream"})
    return edges


# -- table assembly / text ------------------------------------------------------

def table_rows(cells: list[tuple]) -> list[list[tuple | None]]:
    """Rows grouped by exact top, padded with None over the table's unique
    x0 grid (missing grid positions stay None — merged-cell semantics)."""
    _sorted = sorted(cells, key=lambda c: (c[1], c[0]))
    xs = sorted({c[0] for c in cells})
    rows: list[list[tuple | None]] = []
    for _top, row_cells in groupby(_sorted, key=lambda c: c[1]):
        xdict = {c[0]: c for c in row_cells}
        rows.append([xdict.get(x) for x in xs])
    return rows


def _cells_bbox(cells) -> tuple:
    present = [c for c in cells if c is not None]
    return (
        min(c[0] for c in present),
        min(c[1] for c in present),
        max(c[2] for c in present),
        max(c[3] for c in present),
    )


def _extract_cell_text(cell_chars: CharColumns, options: WordOptions) -> str:
    """Default extract_text over the cell's chars (oracle semantics):
    sequential doctop line breaking, same as page-level text."""
    from .layout import words_to_text_grouped

    words = extract_words(cell_chars, options)
    if not words:
        return ""
    return words_to_text_grouped(words, options.y_tolerance)


def extract_table(cells: list[tuple], chars: CharColumns,
                  options: WordOptions | None = None) -> dict:
    """Build {bbox, cells, rows} with text per cell: None for missing grid
    positions, '' for empty cells, extracted text otherwise. `chars` is
    the page's CharColumns."""
    if options is None:
        options = WordOptions()
    rows = table_rows(cells)
    bbox = _cells_bbox(cells)
    # vectorized char->cell assignment: mid-point arrays once per table,
    # one boolean mask per row / per cell (the per-char Python predicate
    # was the kernel's hottest table loop — O(page_chars x rows) calls)
    import numpy as np

    v_mid = (chars.top + chars.bottom) * 0.5
    h_mid = (chars.x0 + chars.x1) * 0.5
    out_rows: list[list[dict | None]] = []
    cell_objs: list[dict] = []
    for row in rows:
        rx0, rtop, rx1, rbot = _cells_bbox(row)
        ridx = np.nonzero(
            (v_mid >= rtop) & (v_mid < rbot)
            & (h_mid >= rx0) & (h_mid < rx1)
        )[0]
        row_h = h_mid[ridx]
        row_v = v_mid[ridx]
        out_row: list[dict | None] = []
        for cell in row:
            if cell is None:
                out_row.append(None)
                continue
            text = ""
            if ridx.size:
                cidx = ridx[
                    (row_h >= cell[0]) & (row_h < cell[2])
                    & (row_v >= cell[1]) & (row_v < cell[3])
                ]
                if cidx.size:
                    text = _extract_cell_text(chars.take(cidx), options)
            obj = {"x0": cell[0], "top": cell[1], "x1": cell[2],
                   "bottom": cell[3], "text": text}
            out_row.append(obj)
            cell_objs.append(obj)
        out_rows.append(out_row)
    return {
        "bbox": {"x0": bbox[0], "top": bbox[1], "x1": bbox[2], "bottom": bbox[3]},
        "cells": cell_objs,
        "rows": out_rows,
    }


def duplicate_merged_content(table: dict) -> dict:
    """T12 (table.rs:810-899): split merged cells into grid sub-cells,
    DUPLICATING the merged cell's text into every sub-cell — uniform
    row/column counts for data-pipeline consumers. (The default path
    keeps merged cells whole with None grid padding, matching Python
    pdfplumber.)"""
    cells = table["cells"]
    if not cells:
        return table
    xs = sorted({v for c in cells for v in (c["x0"], c["x1"])})
    ys = sorted({v for c in cells for v in (c["top"], c["bottom"])})
    new_cells: list[dict] = []
    rows: list[list[dict | None]] = []
    for yi in range(len(ys) - 1):
        row: list[dict | None] = []
        cy = (ys[yi] + ys[yi + 1]) / 2.0
        for xi in range(len(xs) - 1):
            cx = (xs[xi] + xs[xi + 1]) / 2.0
            enc = next(
                (c for c in cells
                 if c["x0"] - 1e-6 <= cx <= c["x1"] + 1e-6
                 and c["top"] - 1e-6 <= cy <= c["bottom"] + 1e-6),
                None,
            )
            if enc is None:
                row.append(None)
                continue
            obj = {"x0": xs[xi], "top": ys[yi], "x1": xs[xi + 1],
                   "bottom": ys[yi + 1], "text": enc["text"]}
            new_cells.append(obj)
            row.append(obj)
        rows.append(row)
    return {"bbox": table["bbox"], "cells": new_cells, "rows": rows}


def table_quality(table: dict) -> tuple[float, float]:
    cells = table["cells"]
    if not cells:
        return 0.0, 0.0
    filled = sum(1 for c in cells if c["text"] is not None and c["text"].strip())
    accuracy = filled / len(cells)
    ratios = [
        sum(1 for ch in c["text"] if ch.isspace()) / len(c["text"])
        for c in cells
        if c["text"]
    ]
    whitespace = sum(ratios) / len(ratios) if ratios else 0.0
    return accuracy, whitespace


def _table_stages(edges: list[dict], words: list[dict],
                  settings: TableSettings) -> tuple:
    """The stages find_tables and table_debug share: edge selection by
    strategy, merge, length filter, intersections, cells and grouping.
    Returns (selected, merged, intersections, cells, groups)."""
    strategy = settings.strategy
    if strategy == "lattice_strict":
        sel = [e for e in edges if e["source"] == "line"]
    elif strategy == "stream":
        sel = words_to_edges_v(words, settings.min_words_vertical)
        sel += words_to_edges_h(words, settings.min_words_horizontal)
    elif strategy == "explicit":
        sel = []
        ex = settings.explicit_lines
        if ex is not None:
            base = list(edges)
            min_x = min([e["x0"] for e in base] + list(ex.vertical_lines), default=0.0)
            max_x = max([e["x1"] for e in base] + list(ex.vertical_lines), default=0.0)
            min_y = min([e["top"] for e in base] + list(ex.horizontal_lines), default=0.0)
            max_y = max([e["bottom"] for e in base] + list(ex.horizontal_lines), default=0.0)
            sel.extend(base)
            for y in ex.horizontal_lines:
                sel.append({"x0": min_x, "top": y, "x1": max_x, "bottom": y,
                            "orientation": "h", "source": "explicit"})
            for x in ex.vertical_lines:
                sel.append({"x0": x, "top": min_y, "x1": x, "bottom": max_y,
                            "orientation": "v", "source": "explicit"})
    else:  # lattice: all derived edges
        sel = list(edges)

    merged = merge_edges(
        sel, settings.snap_x_tolerance, settings.snap_y_tolerance,
        settings.join_x_tolerance, settings.join_y_tolerance,
    )
    merged = [e for e in merged if edge_length(e) >= settings.edge_min_length]
    inter = edges_to_intersections(
        merged, settings.intersection_x_tolerance,
        settings.intersection_y_tolerance,
    ) if merged else {}
    cells = intersections_to_cells(inter) if inter else []
    return sel, merged, inter, cells, cells_to_tables(cells)


def table_debug(edges: list[dict], words: list[dict],
                settings: TableSettings | None = None) -> dict:
    """T15 debug pipeline (table.rs:1546-1640): per-stage counters of
    the stages find_tables runs — raw/selected edges, merged edges,
    intersections, cells, tables."""
    sel, merged, inter, cells, groups = _table_stages(
        edges, words, settings or TableSettings())
    return {
        "n_edges_raw": len(edges),
        "n_edges_selected": len(sel),
        "n_edges_merged": len(merged),
        "n_intersections": len(inter),
        "n_cells": len(cells),
        "n_tables": len(groups),
    }


# -- orchestration ----------------------------------------------------------------

def find_tables(edges: list[dict], words: list[dict], chars: CharColumns,
                settings: TableSettings | None = None,
                word_options: WordOptions | None = None) -> list[dict]:
    """Full pipeline → list of tables with text-filled rows. `chars` is
    the page's CharColumns."""
    if settings is None:
        settings = TableSettings()
    groups = _table_stages(edges, words, settings)[-1]

    wopt = word_options or WordOptions()
    out: list[dict] = []
    for g in groups:
        t = extract_table(g, chars, wopt)
        if settings.min_accuracy is not None:
            acc, _ws = table_quality(t)
            if acc < settings.min_accuracy:
                continue
        if settings.duplicate_merged_content:
            t = duplicate_merged_content(t)
        out.append(t)
    return out
