"""PDF → Markdown conversion (reference US-099 + anytomd fixtures:
/root/reference/tests/anytomd/fixtures/*/{expected_markdown.md,
expected_metadata.json}).

The reference ships no converter source, only golden fixtures; the
rules below are derived from them and verified byte-identical by
tests/test_markdown.py:

- heading level from the line-size / body-size ratio, where body size
  is the MODE of line font sizes (smallest wins ties, same policy as
  html.py): ratio >= 1.9 -> '#', >= 1.6 -> '##', >= 1.3 -> '###',
  else paragraph. (technical-doc: 24/12 -> #, 18/12 -> ###;
  business-report: 20/12 -> ##; mixed-language: 12/12 -> plain text.)
- consecutive paragraph lines merge into one block (joined by '\\n')
  while the top-to-top delta stays <= 1.5x the page's modal line
  pitch; a larger gap starts a new block (mixed-language: the 40 pt
  gap after the un-headed title line vs the 20 pt body pitch).
- blocks are separated by one blank line; pages by '\\n\\n---\\n\\n'
  (technical-doc page break); no trailing newline.
- bullet lines (•/-/* + space) become '- ' items, consecutive items
  one list block; tables (find_tables) render as GFM pipe tables at
  their reading-order position, their words excluded from the flow.
- metadata: {image_count, image_filenames, page_count, title,
  warning_count} — title from /Info /Title, else the first heading
  line, else None; image filenames use the same deterministic
  'page{page}-img{index}-{hash}.{ext}' contract as D11 export
  (16-hex sha256 content prefix).
"""

from __future__ import annotations

import hashlib
import json

from ..config import ExtractOptions
from .html import _flow_lines, _line_text, _modal

FILTER_EXT = {
    "DCTDecode": "jpg", "JPXDecode": "jp2", "CCITTFaxDecode": "tiff",
    "JBIG2Decode": "jbig2",
}


def _gfm_table(table: dict) -> str:
    """GitHub-flavored pipe table; first row is the header. Cell text
    has pipes escaped and newlines collapsed to spaces (GFM cells are
    single-line)."""
    rows = [
        ["" if c is None else c["text"] for c in row]
        for row in table["rows"]
    ]
    if not rows:
        return ""
    width = max(len(r) for r in rows)

    def cell(s: str) -> str:
        return s.replace("|", "\\|").replace("\n", " ").strip()

    def line(r: list[str]) -> str:
        padded = list(r) + [""] * (width - len(r))
        return "| " + " | ".join(cell(c) for c in padded) + " |"

    out = [line(rows[0]), "| " + " | ".join("---" for _ in range(width)) + " |"]
    out.extend(line(r) for r in rows[1:])
    return "\n".join(out)


def _heading_level(ratio: float) -> int:
    """0 = paragraph."""
    if ratio >= 1.9:
        return 1
    if ratio >= 1.6:
        return 2
    if ratio >= 1.3:
        return 3
    return 0


def page_to_markdown(page) -> str:
    """Render one page to Markdown (no trailing newline)."""
    lines, tables = _flow_lines(page)
    line_meta = []
    for ln, _font, size in lines:
        text = _line_text(ln)
        if text.strip():
            line_meta.append((ln["top"], size, text))
    body_size = _modal([size for _t, size, _x in line_meta]) or 0.0

    # modal line pitch (top-to-top delta) decides paragraph breaks
    tops = [t for t, _s, _x in line_meta]
    pitch = _modal([round(b - a, 2) for a, b in zip(tops, tops[1:])
                    if b > a]) or 0.0

    # blocks: (top, kind, payload) where kind in h1..h3 / p / li / table
    blocks: list[tuple[float, str, str]] = []
    prev_top = None
    prev_kind = None
    for top, size, text in line_meta:
        ratio = size / body_size if body_size else 1.0
        level = _heading_level(ratio)
        is_li = False
        for bullet in ("• ", "- ", "* "):
            if text.startswith(bullet):
                text = text[len(bullet):]
                is_li = True
                break
        kind = "li" if is_li else (f"h{level}" if level else "p")
        same_para = (
            kind == "p" and prev_kind == "p" and prev_top is not None
            and pitch > 0 and (top - prev_top) <= 1.5 * pitch
        )
        if same_para:
            t0, k0, payload = blocks[-1]
            blocks[-1] = (t0, k0, payload + "\n" + text)
        else:
            blocks.append((top, kind, text))
        prev_top, prev_kind = top, kind
    for t in tables:
        md = _gfm_table(t)
        if md:
            blocks.append((t["bbox"]["top"], "table", md))

    blocks.sort(key=lambda b: b[0])
    out: list[str] = []
    pending_list: list[str] = []
    for _top, kind, payload in blocks:
        if kind == "li":
            pending_list.append(f"- {payload}")
            continue
        if pending_list:
            out.append("\n".join(pending_list))
            pending_list = []
        if kind.startswith("h"):
            out.append("#" * int(kind[1]) + " " + payload)
        else:
            out.append(payload)
    if pending_list:
        out.append("\n".join(pending_list))
    return "\n\n".join(out)


def document_to_markdown(doc) -> tuple[str, dict]:
    """Convert a whole document; returns (markdown, metadata).

    Pages render independently and join with '---' thematic breaks —
    on Spark this is a per-page map followed by a per-url sort+concat,
    so giant documents parallelize across pages."""
    parts: list[str] = []
    image_filenames: list[str] = []
    image_count = 0
    first_heading: str | None = None
    for i in range(doc.page_count):
        page = doc.page(i)
        md = page_to_markdown(page)
        if md:
            parts.append(md)
            if first_heading is None:
                for line in md.split("\n"):
                    if line.startswith("#"):
                        first_heading = line.lstrip("#").strip()
                        break
        for seq, img in enumerate(getattr(page, "images", []) or []):
            image_count += 1
            data = img.get("data")
            if data is None:
                continue
            h = hashlib.sha256(data).hexdigest()[:16]
            ext = FILTER_EXT.get(img.get("filter") or "", "bin")
            image_filenames.append(
                f"page{page.page_number}-img{seq}-{h}.{ext}")
    markdown = "\n\n---\n\n".join(parts)
    meta = doc.metadata() or {}
    title = meta.get("Title") or first_heading or None
    metadata = {
        "image_count": image_count,
        "image_filenames": image_filenames,
        "page_count": doc.page_count,
        "title": title,
        "warning_count": len(doc.warnings),
    }
    return markdown, metadata


def markdown_json(data: bytes,
                  options: ExtractOptions | None = None) -> tuple[str, str]:
    """(markdown, metadata-json) for one PDF byte blob — the kernel
    entry the Arrow batch UDF calls. Metadata keys are sorted so the
    JSON is byte-stable for hashing oracles."""
    from .document import Document

    doc = Document(data, options)
    md, meta = document_to_markdown(doc)
    return md, json.dumps(meta, sort_keys=True, separators=(",", ":"))
