"""D10: deterministic SVG rendering of a page's extracted objects.

The reference's svg.rs (1,019 LoC) is a debug-overlay builder: page
canvas + rect/line elements for shapes and object bounding boxes, used
by the CLI's visual debugger. This port renders the extracted object
model — vector shapes as <rect>/<line>/<path>, words as positioned
<text> elements — with stable %g number formatting so the output is
byte-deterministic for a given page.
"""

from __future__ import annotations

from xml.sax.saxutils import escape

from .html import font_words


def _g(v: float) -> str:
    """%g with 4-decimal rounding — stable across runs/platforms."""
    return f"{round(v, 4):g}"


def page_to_svg(page) -> str:
    """One page → standalone SVG document string."""
    w, h = _g(page.width), _g(page.height)
    parts = [
        f'<svg xmlns="http://www.w3.org/2000/svg" width="{w}" '
        f'height="{h}" viewBox="0 0 {w} {h}">'
    ]
    for r in page.rects:
        style = "fill:none;stroke:#000" if r.get("stroke") else "fill:#000"
        parts.append(
            f'  <rect x="{_g(r["x0"])}" y="{_g(r["top"])}" '
            f'width="{_g(r["x1"] - r["x0"])}" '
            f'height="{_g(r["bottom"] - r["top"])}" '
            f'style="{style};stroke-width:{_g(r.get("linewidth", 1.0))}"/>'
        )
    for ln in page.lines:
        parts.append(
            f'  <line x1="{_g(ln["x0"])}" y1="{_g(ln["top"])}" '
            f'x2="{_g(ln["x1"])}" y2="{_g(ln["bottom"])}" '
            f'style="stroke:#000;stroke-width:{_g(ln.get("linewidth", 1.0))}"/>'
        )
    for cv in page.curves:
        pts = cv.get("pts") or []
        if len(pts) >= 2:
            d = "M " + " L ".join(f"{_g(x)} {_g(y)}" for x, y in pts)
            parts.append(
                f'  <path d="{d}" style="fill:none;stroke:#000;'
                f'stroke-width:{_g(cv.get("linewidth", 1.0))}"/>'
            )
    for word in font_words(page):
        fontname, size = word["fonts"][0]
        # baseline ≈ bbox bottom (descent included in the box)
        parts.append(
            f'  <text x="{_g(word["x0"])}" y="{_g(word["bottom"])}" '
            f'font-size="{_g(size)}" font-family="{escape(fontname)}">'
            f'{escape(word["text"])}</text>'
        )
    parts.append("</svg>")
    return "\n".join(parts)
