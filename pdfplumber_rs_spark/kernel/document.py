"""Document-level API: open PDF bytes -> pages -> extracted objects.

Mirrors crates/pdfplumber/src/pdf.rs: Pdf::open (budget checks),
page_heights / raw_page_heights caching (278-303), doctop accumulation
(515, 538), and Page building. This is the entry point the Spark Arrow
kernel calls per document.
"""

from __future__ import annotations

from ..config import ExtractOptions, TableSettings
from .docparser import PdfDocument
from .interpreter import Interpreter
from .page import PageGeometry, build_page

LETTER = (0.0, 0.0, 612.0, 792.0)


def _media_box(doc: PdfDocument, page: dict) -> tuple:
    mb = doc.resolve(page.get("MediaBox"))
    if isinstance(mb, list) and len(mb) == 4:
        try:
            vals = [float(doc.resolve(v)) for v in mb]
            x0, y0, x1, y1 = vals
            return (min(x0, x1), min(y0, y1), max(x0, x1), max(y0, y1)), vals
        except (TypeError, ValueError):
            pass
    return LETTER, list(LETTER)


class Document:
    def __init__(self, data: bytes, options: ExtractOptions | None = None) -> None:
        self.options = options or ExtractOptions()
        self.warnings: list[str] = []
        if (
            self.options.max_input_bytes is not None
            and len(data) > self.options.max_input_bytes
        ):
            raise ValueError(
                f"input exceeds max_input_bytes ({len(data)} > {self.options.max_input_bytes})"
            )
        self.doc = PdfDocument(data, self.warnings,
                               password=self.options.password or "")
        self.repaired = self.doc.repaired
        self._page_dicts = self.doc.pages()
        if (
            self.options.max_pages is not None
            and len(self._page_dicts) > self.options.max_pages
        ):
            self._page_dicts = self._page_dicts[: self.options.max_pages]
            self.warnings.append("max_pages budget: truncated page list")

        # cache page heights for doctop (pdf.rs:278-303)
        self.page_heights: list[float] = []
        self.raw_page_heights: list[float] = []
        self._geoms: list[PageGeometry] = []
        for p in self._page_dicts:
            mb, raw_vals = _media_box(self.doc, p)
            rot = self.doc.resolve(p.get("Rotate")) or 0
            try:
                rot = int(rot)
            except (TypeError, ValueError):
                rot = 0
            geom = PageGeometry(mb, rot)
            self._geoms.append(geom)
            self.page_heights.append(geom.display_height)
            # raw_page_height folds non-zero/inverted MediaBox origins
            # (pdf.rs:294-302): |height| + top - min(top, bottom); with raw
            # (possibly inverted) MediaBox values [x0 y0 x1 y1] -> y0 is
            # "top" in the reference's BBox field naming.
            y_top, y_bot = raw_vals[1], raw_vals[3]
            self.raw_page_heights.append(
                abs(y_bot - y_top) + y_top - min(y_top, y_bot)
            )

    @property
    def page_count(self) -> int:
        return len(self._page_dicts)

    def page(self, index: int):
        pd = self._page_dicts[index]
        geom = self._geoms[index]
        content = self.doc.page_content(pd)
        interp = Interpreter(self.doc, self.warnings,
                             max_objects=self.options.max_objects_per_page)
        interp.run_page(pd, content)
        page = build_page(
            index + 1, geom, self.raw_page_heights[index],
            interp.chars, interp.paths, interp.images,
            self.options, self.warnings,
        )
        # lazy: the /Annots walk costs ~6% of a text-only page build and
        # most callers (extract_text paths) never read these (guide §1.2
        # — don't compute things you throw away)
        def _extras(doc=self.doc, pd=pd, geom=geom):
            from .docextras import hyperlinks, page_annotations

            annots = page_annotations(doc, pd, geom)
            return annots, hyperlinks(annots)

        page._annotations = None
        page._hyperlinks = None
        page._extras_thunk = _extras
        doctop_offset = sum(self.page_heights[:index])
        if doctop_offset:
            cols = page.char_columns
            cols.doctop = cols.doctop + doctop_offset
        return page

    def pages(self):
        for i in range(self.page_count):
            yield self.page(i)

    def metadata(self) -> dict:
        return self.doc.metadata()

    def bookmarks(self) -> list[dict]:
        from .docextras import bookmarks

        return bookmarks(self.doc)

    def form_fields(self) -> list[dict]:
        from .docextras import acroform_fields

        return acroform_fields(self.doc)

    def signatures(self) -> list[dict]:
        from .docextras import signatures

        return signatures(self.doc)

    def validate(self) -> list[dict]:
        from .docextras import validate

        return validate(self.doc)


def extract_document(data: bytes, options: ExtractOptions | None = None,
                     table_settings: TableSettings | None = None) -> dict:
    """One-shot extraction of a whole document into plain dicts, for
    scripts and tests (the Spark kernel runs `pipeline._page_rows`).

    Returns {n_pages, text, pages:[{page_number, width, height, rotation,
    chars, words, lines, rects, curves, edges, tables, text}], warnings,
    error}. Never raises on malformed input — lenient like the reference.
    """
    try:
        doc = Document(data, options)
    except Exception as e:  # noqa: BLE001 — any broken PDF becomes a warning row
        return {
            "n_pages": 0, "text": "", "pages": [],
            "warnings": [f"open failed: {e}"], "error": str(e),
        }
    pages_out = []
    texts = []
    for page in doc.pages():
        try:
            words = page.words
            from .layout import extract_text_from_words

            text = extract_text_from_words(words)
            tables = page.find_tables(table_settings)
        except Exception as e:  # noqa: BLE001
            doc.warnings.append(f"page {page.page_number}: {e}")
            words, text, tables = [], "", []
        texts.append(text)
        pages_out.append(
            {
                "page_number": page.page_number,
                "width": page.width,
                "height": page.height,
                "rotation": page.rotation,
                "chars": page.chars,
                "words": words,
                "lines": page.lines,
                "rects": page.rects,
                "curves": page.curves,
                "edges": page.edges(),
                "tables": tables,
                "text": text,
            }
        )
    return {
        "n_pages": doc.page_count,
        "text": "\n".join(texts),
        "pages": pages_out,
        "warnings": doc.warnings,
        "error": None,
    }
