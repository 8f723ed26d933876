"""HTML main-content extraction: boilerplate stripping via DOM block
heuristics (north rule: "HTML boilerplate strip, PDF/layout parse, DOM
heuristics").

A jusText/boilerpipe-lite pass over stdlib html.parser — no external
dependencies, deterministic, lenient on malformed markup:

1. DOM walk drops non-content subtrees outright (script/style/noscript/
   template/head, and the nav/header/footer/aside landmarks).
2. Text accumulates into BLOCKS at block-level element boundaries
   (p, h1-h6, li, td, th, div, section, article, blockquote, pre, br).
3. Per block: word count and LINK DENSITY (fraction of words inside
   <a>). A block is CONTENT when it has >= `min_words` words and link
   density <= `max_link_density`; headings (h1-h6) only need one word
   (they label content but are short). Everything else is boilerplate
   (navs are short and link-dense — the classic separation).

The kernel returns (text, n_blocks_kept, n_blocks_total) so the Spark
layer exposes both the cleaned text and the strip diagnostics.
"""

from __future__ import annotations

import re
from html.parser import HTMLParser

_DROP = {"script", "style", "noscript", "template", "head",
         "nav", "header", "footer", "aside"}
_BLOCK = {"p", "h1", "h2", "h3", "h4", "h5", "h6", "li", "td", "th",
          "div", "section", "article", "blockquote", "pre", "tr",
          "table", "ul", "ol", "body", "html", "main", "figure",
          "figcaption"}
_HEADING = {"h1", "h2", "h3", "h4", "h5", "h6"}


class _Extractor(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[tuple[str, int, int, bool]] = []
        self.links: list[str] = []  # every href, incl. dropped subtrees
        self.anchors: list[tuple[str, str]] = []  # (href, anchor text)
        self._a_stack: list[list] = []  # open <a>: [href, text parts]
        # current block accumulators
        self._parts: list[str] = []
        self._link_words = 0
        self._heading = False
        self._drop_depth = 0
        self._link_depth = 0

    # -- block lifecycle ---------------------------------------------------

    def _flush(self) -> None:
        text = " ".join("".join(self._parts).split())
        if text:
            n_words = len(text.split())
            self.blocks.append(
                (text, n_words, self._link_words, self._heading))
        self._parts = []
        self._link_words = 0
        self._heading = False

    # -- parser hooks ------------------------------------------------------

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag == "a":
            for k, v in attrs:
                if k == "href" and v:
                    self.links.append(v)
                    self._a_stack.append([v, []])
                    break
        if tag in _DROP:
            self._drop_depth += 1
            return
        if self._drop_depth:
            return
        if tag == "a":
            self._link_depth += 1
        if tag == "br" or tag in _BLOCK:
            self._flush()
            if tag in _HEADING:
                self._heading = True

    def _pop_anchor(self) -> None:
        href, parts = self._a_stack.pop()
        self.anchors.append((href, " ".join("".join(parts).split())))

    def handle_endtag(self, tag: str) -> None:
        if tag == "a" and self._a_stack:
            self._pop_anchor()
        if tag in _DROP:
            self._drop_depth = max(0, self._drop_depth - 1)
            return
        if self._drop_depth:
            return
        if tag == "a":
            self._link_depth = max(0, self._link_depth - 1)
        if tag in _BLOCK:
            self._flush()

    def handle_data(self, data: str) -> None:
        if data:  # anchor text accumulates even in dropped chrome —
            for a in self._a_stack:  # the link graph wants ALL anchors
                a[1].append(data)
        if self._drop_depth or not data:
            return
        self._parts.append(data)
        if self._link_depth:
            self._link_words += len(data.split())

    def close(self) -> None:  # final partial block + unclosed anchors
        super().close()
        while self._a_stack:
            self._pop_anchor()
        self._flush()


def extract_main_content(html: bytes | str) -> dict:
    """Strip boilerplate, keep content blocks. Returns
    {text, n_blocks_kept, n_blocks_total} — lenient: any parse failure
    yields empty text, never an exception."""
    if isinstance(html, bytes):
        html = html.decode("utf-8", "replace")
    p = _Extractor()
    try:
        p.feed(html)
        p.close()
    except Exception:  # noqa: BLE001 — malformed markup: keep what we got
        pass
    kept: list[str] = []
    for text, n_words, link_words, heading in p.blocks:
        density = link_words / n_words if n_words else 1.0
        # a heading needs one word, any other block five
        if density <= 0.33 and n_words >= (1 if heading else 5):
            kept.append(text)
    return {
        "text": "\n".join(kept),
        "n_blocks_kept": len(kept),
        "n_blocks_total": len(p.blocks),
        "links": p.links,
        "anchors": p.anchors,
    }


# ---------------------------------------------------------------------------
# HTML → Markdown (the extraction pipeline's publishing format)

_MD_HEADING = {"h1": 1, "h2": 2, "h3": 3, "h4": 4, "h5": 5, "h6": 6}
_MD_PARA = {"p", "div", "section", "article", "main", "figure",
            "figcaption", "body", "html"}
_MD_BOLD = {"b", "strong"}
_MD_EM = {"i", "em"}


class _Markdown(HTMLParser):
    """Lenient single-pass HTML→Markdown renderer: headings, paragraph
    blocks, nested ul/ol lists, inline links/emphasis, blockquotes,
    fenced pre blocks, and pipe tables (separator after the first
    row). Chrome subtrees (_DROP: script/style/head/nav/header/footer/
    aside) are skipped entirely — the converter renders CONTENT, the
    same scope extract_main_content scores. Markdown metacharacters in
    text are NOT escaped (documented simplification: web corpora are
    rendered for LLM consumption, not round-tripping)."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[str] = []
        self._parts: list[str] = []
        self._drop = 0
        self._heading = 0
        self._lists: list[list] = []   # [kind, counter] per open list
        self._pre = 0
        self._quote = 0
        self._a: list[list] = []       # open anchors: [href, parts]
        self._rows: list[list[str]] | None = None   # open table
        self._cell: list[str] | None = None

    def _text(self) -> str:
        raw = "".join(self._parts)
        self._parts = []
        return raw if self._pre else " ".join(raw.split())

    def _flush(self, prefix: str = "") -> None:
        text = self._text()
        if not text:
            return
        if self._quote:
            text = "\n".join("> " * self._quote + ln
                             for ln in text.split("\n"))
        self.blocks.append(prefix + text)

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag in _DROP:
            self._drop += 1
            return
        if self._drop:
            return
        if tag == "a":
            href = next((v for k, v in attrs if k == "href" and v), None)
            self._a.append([href, []])
        elif tag in _MD_HEADING:
            self._flush()
            self._heading = _MD_HEADING[tag]
        elif tag in ("ul", "ol"):
            if self._lists:  # pending item text keeps its list marker
                text = self._text()
                if text:
                    self.blocks.append(self._li_prefix() + text)
            else:
                self._flush()
            self._lists.append([tag, 0])
        elif tag == "li":
            self._flush_li()
        elif tag == "blockquote":
            self._flush()
            self._quote += 1
        elif tag == "pre":
            self._flush()
            self._pre += 1
        elif tag == "table":
            self._flush()
            self._rows = []
        elif tag == "tr" and self._rows is not None:
            self._rows.append([])
        elif tag in ("td", "th") and self._rows is not None:
            self._cell = []
        elif tag == "img":
            src = next((v for k, v in attrs if k == "src" and v), "")
            alt = next((v for k, v in attrs if k == "alt" and v), "")
            self._parts.append(f"![{alt}]({src})")
        elif tag == "br":
            self._parts.append("\n") if self._pre else self._flush()
        elif tag in _MD_BOLD:
            self._parts.append("**")
        elif tag in _MD_EM:
            self._parts.append("*")
        elif tag in _MD_PARA:
            self._flush()

    def _flush_li(self) -> None:
        # emit the PREVIOUS list item / paragraph before starting one
        text = self._text()
        if text:
            if self._lists:
                self.blocks.append(self._li_prefix() + text)
            else:
                self.blocks.append(text)
        if self._lists:
            self._lists[-1][1] += 1

    def _li_prefix(self) -> str:
        depth = max(len(self._lists) - 1, 0)
        kind, n = self._lists[-1]
        mark = f"{n}." if kind == "ol" else "-"
        return "  " * depth + mark + " "

    def _close_li(self) -> None:
        text = self._text()
        if text and self._lists:
            self.blocks.append(self._li_prefix() + text)
        elif text:
            self.blocks.append(text)

    def handle_endtag(self, tag: str) -> None:
        if tag in _DROP:
            self._drop = max(0, self._drop - 1)
            return
        if self._drop:
            return
        if tag == "a" and self._a:
            href, parts = self._a.pop()
            text = " ".join("".join(parts).split())
            out = f"[{text}]({href})" if href else text
            (self._a[-1][1] if self._a else self._parts).append(out)
        elif tag in _MD_HEADING:
            text = self._text()
            if text:
                self.blocks.append("#" * self._heading + " " + text)
            self._heading = 0
        elif tag == "li":
            self._close_li()
        elif tag in ("ul", "ol"):
            self._close_li()
            if self._lists:
                self._lists.pop()
        elif tag == "blockquote":
            self._flush()
            self._quote = max(0, self._quote - 1)
        elif tag == "pre":
            text = "".join(self._parts).strip("\n")
            self._parts = []
            if text:
                self.blocks.append(f"```\n{text}\n```")
            self._pre = max(0, self._pre - 1)
        elif tag in ("td", "th") and self._cell is not None:
            cell = " ".join("".join(self._cell).split())
            if self._rows is not None and self._rows:
                self._rows[-1].append(cell)
            self._cell = None
        elif tag == "table" and self._rows is not None:
            rows = [r for r in self._rows if r]
            self._rows = None
            if rows:
                width = max(len(r) for r in rows)
                lines = []
                for i, r in enumerate(rows):
                    r = r + [""] * (width - len(r))
                    lines.append("| " + " | ".join(r) + " |")
                    if i == 0:
                        lines.append("|" + " --- |" * width)
                self.blocks.append("\n".join(lines))
        elif tag in _MD_BOLD:
            self._parts.append("**")
        elif tag in _MD_EM:
            self._parts.append("*")
        elif tag in _MD_PARA:
            self._flush()

    def handle_data(self, data: str) -> None:
        if self._drop or not data:
            return
        if self._a:
            self._a[-1][1].append(data)
        elif self._cell is not None:
            self._cell.append(data)
        else:
            self._parts.append(data)

    def close(self) -> None:
        super().close()
        while self._a:
            href, parts = self._a.pop()
            text = " ".join("".join(parts).split())
            (self._a[-1][1] if self._a else self._parts).append(
                f"[{text}]({href})" if href else text)
        self._flush()


def html_to_markdown(html: bytes | str) -> dict:
    """Render HTML content to Markdown. Returns {markdown, n_blocks} —
    lenient: any parse failure keeps whatever was rendered, never an
    exception. Blocks join with blank lines."""
    if isinstance(html, bytes):
        html = html.decode("utf-8", "replace")
    p = _Markdown()
    try:
        p.feed(html)
        p.close()
    except Exception:  # noqa: BLE001 — malformed markup: keep what we got
        pass
    # adjacent list items fold into ONE tight list block
    li = re.compile(r"^\s*(-|\d+\.) ")
    merged: list[str] = []
    for b in p.blocks:
        if (merged and li.match(b)
                and li.match(merged[-1].rsplit("\n", 1)[-1])):
            merged[-1] += "\n" + b
        else:
            merged.append(b)
    return {"markdown": "\n\n".join(merged), "n_blocks": len(merged)}
