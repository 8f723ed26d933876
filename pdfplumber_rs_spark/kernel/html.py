"""D9: semantic HTML rendering of a page (html.rs:74-119, page.rs:497-500).

The reference renders headings via the line-size / body-size ratio,
<strong>/<em> from the fontname, bullet lists, and <table> blocks.
This implementation keeps those rules but measures body size as the
MODE of line font sizes (smallest wins ties) so the mapping is
deterministic regardless of how many heading lines a page has.

Rules:
- line ratio >= 1.7 -> h1, >= 1.4 -> h2, >= 1.15 -> h3, else p
- dominant fontname containing Bold -> <strong>, Italic/Oblique -> <em>
- a line starting with a bullet (•, -, *) + space -> <li>, consecutive
  items grouped into one <ul>
- tables (find_tables) render as <table><tr><td> at their reading-order
  position; words inside a table bbox are excluded from the text flow
"""

from __future__ import annotations

from collections import Counter

from .layout import cluster_words_into_lines
from .words import words_and_members


def _escape(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def font_words(page) -> list[dict]:
    """The page's default-option words, each with the (fontname, size)
    of its chars, in reading order, under "fonts"."""
    cols = page.char_columns
    words, members, bounds = words_and_members(cols)
    fonts = [(cols.runs[r].font_name, s)
             for r, s in zip(cols.run[members].tolist(),
                             cols.size[members].tolist())]
    for w, a, b in zip(words, bounds, bounds[1:]):
        w["fonts"] = fonts[a:b]
    return words


def _modal(values: list):
    """The smallest of the most common values; None when there are
    none."""
    counts = Counter(values)
    if not counts:
        return None
    top_n = max(counts.values())
    return min(v for v, n in counts.items() if n == top_n)


def _dominant(fonts: list[tuple]) -> tuple[str, float]:
    """(fontname, size) shared by the most chars; ties -> lexicographic
    fontname, then smaller size."""
    return _modal([(f or "", round(float(s), 4)) for f, s in fonts]) \
        or ("", 0.0)


def _line_text(line: dict) -> str:
    words = sorted(line["words"], key=lambda w: w["x0"])
    return " ".join(w["text"] for w in words)


def _inside(w: dict, bbox: tuple) -> bool:
    cx = (w["x0"] + w["x1"]) / 2.0
    cy = (w["top"] + w["bottom"]) / 2.0
    return bbox[0] <= cx <= bbox[2] and bbox[1] <= cy <= bbox[3]


def _flow_lines(page) -> tuple[list[tuple[dict, str, float]], list[dict]]:
    """(lines, tables): the page's text flow — its default-option words
    outside every table, clustered into lines (3pt), each line with its
    dominant (fontname, size) — and its find_tables tables."""
    words = font_words(page)
    tables = page.find_tables()
    tboxes = [
        (t["bbox"]["x0"], t["bbox"]["top"], t["bbox"]["x1"], t["bbox"]["bottom"])
        for t in tables
    ]
    flow_words = [
        w for w in words if not any(_inside(w, b) for b in tboxes)
    ]
    lines = [
        (ln, *_dominant([f for w in ln["words"] for f in w["fonts"]]))
        for ln in cluster_words_into_lines(flow_words, 3.0)
    ]
    return lines, tables


def page_to_html(page) -> str:
    """Render one page to semantic HTML (block-level string, no <html>
    wrapper — matches the reference's per-page fragment)."""
    line_meta, tables = _flow_lines(page)
    # blocks to emit: (top, kind, payload)
    blocks: list[tuple[float, str, object]] = []
    body_size = _modal([size for _ln, _font, size in line_meta]) or 0.0
    for ln, fontname, size in line_meta:
        text = _escape(_line_text(ln))
        if not text.strip():
            continue
        ratio = size / body_size if body_size else 1.0
        if ratio >= 1.7:
            tag = "h1"
        elif ratio >= 1.4:
            tag = "h2"
        elif ratio >= 1.15:
            tag = "h3"
        else:
            tag = "p"
        inner = text
        if "Bold" in fontname:
            inner = f"<strong>{inner}</strong>"
        if "Italic" in fontname or "Oblique" in fontname:
            inner = f"<em>{inner}</em>"
        is_li = False
        for bullet in ("• ", "- ", "* "):
            if text.startswith(bullet):
                inner = inner.replace(bullet, "", 1)
                is_li = True
                break
        blocks.append((ln["top"], "li" if is_li else tag, inner))
    for t in tables:
        rows_html = "".join(
            "<tr>" + "".join(
                f"<td>{_escape(c or '')}</td>" for c in row
            ) + "</tr>"
            for row in [
                [None if c is None else c["text"] for c in row]
                for row in t["rows"]
            ]
        )
        blocks.append((t["bbox"]["top"], "table", rows_html))

    blocks.sort(key=lambda b: b[0])
    out: list[str] = []
    in_list = False
    for _top, kind, payload in blocks:
        if kind == "li":
            if not in_list:
                out.append("<ul>")
                in_list = True
            out.append(f"<li>{payload}</li>")
            continue
        if in_list:
            out.append("</ul>")
            in_list = False
        if kind == "table":
            out.append(f"<table>{payload}</table>")
        else:
            out.append(f"<{kind}>{payload}</{kind}>")
    if in_list:
        out.append("</ul>")
    return "\n".join(out)


def document_to_html(doc) -> str:
    """All pages joined by newline."""
    parts = []
    for i in range(doc.page_count):
        html = page_to_html(doc.page(i))
        if html:
            parts.append(html)
    return "\n".join(parts)
