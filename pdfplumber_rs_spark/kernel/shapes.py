"""Path -> Line / Rect / Curve extraction and edge derivation.

Port of crates/pdfplumber-core/src/shapes.rs:251-467 and edges.rs:53-156.
Coordinates arrive in device space (CTM already applied by the
interpreter); here we y-flip to the top-left-origin convention.
"""

from __future__ import annotations

AXIS_TOL = 1e-6


def _flip(y: float, h: float) -> float:
    return h - y


def _orientation(x0, y0, x1, y1) -> str:
    dx = abs(x1 - x0)
    dy = abs(y1 - y0)
    if dy < AXIS_TOL:
        return "h"
    if dx < AXIS_TOL:
        return "v"
    return "d"


def _subpaths(segments: list) -> list[list]:
    subs: list[list] = []
    start = 0
    for i, seg in enumerate(segments):
        if i > 0 and seg[0] == "m":
            if start < i:
                subs.append(segments[start:i])
            start = i
    if start < len(segments):
        subs.append(segments[start:])
    return subs


def _try_rect(verts: list, page_height: float):
    if len(verts) != 4:
        return None
    for i in range(4):
        ax, ay = verts[i]
        bx, by = verts[(i + 1) % 4]
        if abs(bx - ax) > AXIS_TOL and abs(by - ay) > AXIS_TOL:
            return None
    xs = [p[0] for p in verts]
    ys = [_flip(p[1], page_height) for p in verts]
    return (min(xs), min(ys), max(xs), max(ys))


def extract_shapes(painted, page_height: float):
    """PaintedPath -> (lines, rects, curves) in top-left coords.

    Classification follows the pdfminer/pdfplumber object model (the
    golden oracle): a 2-point straight subpath is a Line, a closed
    axis-aligned 4/5-vertex polygon is a Rect, and EVERYTHING else —
    polylines, filled polygons, bezier paths — is a Curve carrying its
    on-curve points (control points dropped). Edges derive per
    consecutive point pair (see derive_edges)."""
    lines: list[dict] = []
    rects: list[dict] = []
    curves: list[dict] = []

    common = {
        "linewidth": painted.line_width,
        "stroke": painted.stroke,
        "fill": painted.fill,
        "stroking_color": painted.stroke_color,
        "non_stroking_color": painted.fill_color,
    }

    for sub in _subpaths(painted.segments):
        has_curve = any(seg[0] == "c" for seg in sub)
        # on-curve points in draw order (top-left coords)
        pts: list[tuple] = []
        start = None
        closed = False
        for seg in sub:
            k = seg[0]
            if k == "m":
                start = seg[1]
                pts.append(seg[1])
            elif k == "l":
                pts.append(seg[1])
            elif k == "c":
                pts.append(seg[3])
            elif k == "h":
                closed = True
        if len(pts) >= 2:
            fx, fy = pts[0]
            lx, ly = pts[-1]
            if abs(fx - lx) < AXIS_TOL and abs(fy - ly) < AXIS_TOL:
                closed = True
        if not pts:
            continue

        if not has_curve:
            verts = pts
            if closed and len(verts) in (4, 5):
                vv = verts[:4] if len(verts) == 5 else verts
                r = _try_rect(vv, page_height)
                if r is not None:
                    rects.append({"x0": r[0], "top": r[1], "x1": r[2],
                                  "bottom": r[3], **common})
                    continue
            if len(verts) == 2 and not closed:
                p0, p1 = verts
                fy0, fy1 = _flip(p0[1], page_height), _flip(p1[1], page_height)
                lines.append(
                    {
                        "x0": min(p0[0], p1[0]), "top": min(fy0, fy1),
                        "x1": max(p0[0], p1[0]), "bottom": max(fy0, fy1),
                        "orientation": _orientation(p0[0], fy0, p1[0], fy1),
                        **common,
                    }
                )
                continue

        # curve: flip points; closed paths return to the start point
        fpts = [(x, _flip(y, page_height)) for (x, y) in pts]
        if closed and len(fpts) >= 2 and fpts[0] != fpts[-1]:
            fpts.append(fpts[0])
        xs = [p[0] for p in fpts]
        ys = [p[1] for p in fpts]
        curves.append(
            {
                "x0": min(xs), "top": min(ys), "x1": max(xs),
                "bottom": max(ys), "pts": fpts, **common,
            }
        )

    return lines, rects, curves


def derive_edges(lines: list[dict], rects: list[dict], curves: list[dict]) -> list[dict]:
    """Lines -> 1 edge; Rects -> 4 edges; Curves -> chord edge (edges.rs:140-156)."""
    edges: list[dict] = []
    for ln in lines:
        edges.append(
            {
                "x0": ln["x0"], "top": ln["top"], "x1": ln["x1"],
                "bottom": ln["bottom"], "orientation": ln["orientation"],
                "source": "line",
            }
        )
    for r in rects:
        edges.append({"x0": r["x0"], "top": r["top"], "x1": r["x1"],
                      "bottom": r["top"], "orientation": "h", "source": "rect_top"})
        edges.append({"x0": r["x0"], "top": r["bottom"], "x1": r["x1"],
                      "bottom": r["bottom"], "orientation": "h", "source": "rect_bottom"})
        edges.append({"x0": r["x0"], "top": r["top"], "x1": r["x0"],
                      "bottom": r["bottom"], "orientation": "v", "source": "rect_left"})
        edges.append({"x0": r["x1"], "top": r["top"], "x1": r["x1"],
                      "bottom": r["bottom"], "orientation": "v", "source": "rect_right"})
    for cv in curves:
        pts = cv["pts"]
        for (sx, sy), (ex, ey) in zip(pts, pts[1:]):
            edges.append(
                {
                    "x0": min(sx, ex), "top": min(sy, ey), "x1": max(sx, ex),
                    "bottom": max(sy, ey),
                    "orientation": _orientation(sx, sy, ex, ey),
                    "source": "curve",
                }
            )
    return edges
