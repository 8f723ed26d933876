"""Seeded inputs for the benchmark workloads.

Every document is built from the run's seed with the public builders in
``pdfplumber_rs_spark.sources.pdfgen``, so one seed always yields the same
bytes. Each workload fixes its total page count and its mix of page kinds;
the seed only moves text, sizes, labels and which document gets which
pages, so runs with different seeds do the same amount of kernel work.

A ``Doc`` carries what the output check needs: the expected per-url text
(the closed-form rendering of the generated lines) or, for layout pages,
the expected cell grid of each ruled table.
"""

from __future__ import annotations

import random
import re
import zlib
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

from pdfplumber_rs_spark.sources import pdfgen

INPUT_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.int64()),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])

# words that exercise escaping ("(", ")", "\\"), latin-1 glyphs and, via
# the em dash, characters that sanitize_for_pdf drops
VOCAB = (
    "crawl parquet spark kernel page text arrow stage task shuffle worker "
    "table column row glyph font stream xref trailer object filter decode "
    "alpha beta gamma delta epsilon lambda sigma omega vector matrix index "
    "(note) [ref] a\\b 42 3.14 2026-10-17 über naïve façade año "
    "em—dash x+y=z 100% e-mail"
).split()
LINES_PER_PAGE = 48
LINE_WIDTH = 80


@dataclass
class Doc:
    url: str
    pdf: bytes
    source: str = ""            # generated text (the crawl's text column)
    kind: str = "clean"         # outcome class the check applies
    expected_text: str | None = None
    n_pages: int = 0
    # page_number -> rows of cell labels, for every page with a ruled table
    cells: dict[int, list[list[str]]] = field(default_factory=dict)
    # truncated rows: the rendering of the lines wholly before the cut
    kept_text: str | None = None


def rendered_text(source: str) -> str:
    """Closed form of what extraction returns for a ``pdf_from_text``
    document: sanitize, collapse spaces per line, drop blank lines, join
    with newlines."""
    lines = pdfgen.sanitize_for_pdf(source).split("\n")
    lines = (re.sub(" +", " ", line).strip(" ") for line in lines)
    return "\n".join(line for line in lines if line)


def _line(rng: random.Random) -> str:
    if rng.random() < 0.04:  # paragraph break: dropped from the text
        return rng.choice(["", "   ", "\t"])
    words: list[str] = []
    n = 0
    while n < LINE_WIDTH - 6:
        w = rng.choice(VOCAB)
        words.append(w)
        n += len(w) + 1
    seps = [" " if rng.random() < 0.95 else rng.choice(["  ", "\t"])
            for _ in words[1:]]
    out = words[0] + "".join(s + w for s, w in zip(seps, words[1:]))
    return (" " if rng.random() < 0.03 else "") + out


def _lines(rng: random.Random, n: int) -> str:
    return "\n".join(_line(rng) for _ in range(n))


def heavy_tailed_counts(rng: random.Random, n: int, total: int,
                        cap: int) -> list[int]:
    """``n`` Pareto-distributed page counts in [1, cap] summing to
    exactly ``total``."""
    if not n <= total <= n * cap:
        raise ValueError(f"cannot split {total} pages over {n} docs (cap {cap})")
    w = [rng.paretovariate(1.5) for _ in range(n)]
    s = sum(w)
    counts = [max(1, min(cap, round(x * total / s))) for x in w]
    while sum(counts) != total:
        i = rng.randrange(n)
        if sum(counts) < total and counts[i] < cap:
            counts[i] += 1
        elif sum(counts) > total and counts[i] > 1:
            counts[i] -= 1
    return counts


def _text_doc(rng: random.Random, url: str, n_pages: int,
              lines_per_page: int = LINES_PER_PAGE) -> Doc:
    src = _lines(rng, n_pages * lines_per_page)
    return Doc(url=url, pdf=pdfgen.pdf_from_text(src, lines_per_page),
               source=src, expected_text=rendered_text(src),
               n_pages=n_pages)


def _url(rng: random.Random, prefix: str, i: int) -> str:
    return f"https://{prefix}{rng.randrange(10**6):06d}.example/doc/{i}.pdf"


# -- crawl_text -------------------------------------------------------------

CRAWL_DOCS = 240
CRAWL_PAGES = 600
CRAWL_MAX_PAGES = 12
CRAWL_SEGMENTS = 2


def crawl_text(seed: int) -> list[Doc]:
    """Text-only crawl documents with heavy-tailed page counts."""
    rng = random.Random(f"crawl_text/{seed}")
    counts = heavy_tailed_counts(rng, CRAWL_DOCS, CRAWL_PAGES,
                                 CRAWL_MAX_PAGES)
    return [_text_doc(rng, _url(rng, "crawl", i), c)
            for i, c in enumerate(counts)]


# -- layout_objects ----------------------------------------------------------

LAYOUT_PAGES = 250
LAYOUT_DOCS = 72
LAYOUT_KINDS = {"lattice": 0.4, "stream": 0.2, "complex": 0.2, "text": 0.2}
LABEL_WORDS = ("Kiwi", "Fig", "Lime", "Plum", "Yuzu", "Pear", "Sloe", "Date")


def spread_counts(rng: random.Random, n: int, total: int, lo: int,
                  hi: int) -> list[int]:
    """``n`` counts in [lo, hi] summing to exactly ``total``."""
    if not n * lo <= total <= n * hi:
        raise ValueError(f"cannot split {total} over {n} in [{lo}, {hi}]")
    counts = [lo] * n
    for _ in range(total - n * lo):
        counts[rng.choice([i for i, c in enumerate(counts) if c < hi])] += 1
    return counts


def _grid_sizes(i: int) -> tuple[int, int]:
    """The i-th grid size of a fixed cycle (6..16 rows, 3..6 columns), so
    the total cell count does not depend on the seed."""
    return 6 + (i * 7) % 11, 3 + i % 4


def _layout_page(rng: random.Random, kind: str,
                 size: tuple[int, int]) -> tuple[bytes, list | None]:
    rows, cols = size
    if kind == "lattice":
        label = rng.choice(LABEL_WORDS) + "{r}-{c}"
        grid = [[label.format(r=r, c=c) for c in range(cols)]
                for r in range(rows)]
        return (pdfgen.lattice_table_content(rows, cols, label=label,
                                             cell_w=rng.choice([80.0, 90.0]),
                                             cell_h=rng.choice([20.0, 24.0])),
                grid)
    if kind == "stream":
        label = rng.choice(LABEL_WORDS) + "-{r}-{c}"
        return (pdfgen.stream_table_content(rows + 2, min(cols, 5),
                                            label=label),
                None)
    if kind == "complex":  # carries a fixed 5x4 ruled grid
        return (pdfgen.complex_page_content(),
                [[f"R{r}C{c}" for c in range(4)] for r in range(5)])
    return (pdfgen.text_page_content(_lines(rng, LINES_PER_PAGE).split("\n")),
            None)


def layout_objects(seed: int) -> list[Doc]:
    """Multi-page documents mixing ruled grids, stream grids, complex and
    plain text pages in fixed proportions."""
    rng = random.Random(f"layout_objects/{seed}")
    pages = [(k, _grid_sizes(i)) for k, share in LAYOUT_KINDS.items()
             for i in range(round(share * LAYOUT_PAGES))]
    rng.shuffle(pages)
    docs = []
    pos = 0
    for n in spread_counts(rng, LAYOUT_DOCS, len(pages), 2, 5):
        contents, cells = [], {}
        for p, (kind, size) in enumerate(pages[pos:pos + n]):
            content, grid = _layout_page(rng, kind, size)
            contents.append(content)
            if grid is not None:
                cells[p + 1] = grid
        docs.append(Doc(url=_url(rng, "layout", len(docs)),
                        pdf=pdfgen.build_pdf(contents), kind="layout",
                        n_pages=n, cells=cells))
        pos += n
    return docs


# -- skew_hostile ------------------------------------------------------------

SKEW_SMALL_DOCS = 110
SKEW_SMALL_PAGES = 140
SKEW_SMALL_LINES = 36
SKEW_GIANTS = 2
SKEW_GIANT_PAGES = 280
SKEW_GIANT_LINES = 12
# hostile rows, a fixed share of the input: kind -> count
SKEW_HOSTILE = {"repaired": 3, "encrypted": 2, "truncated": 2, "bomb": 1}
# above every small document, below every giant (~1 KiB per giant page)
SKEW_MAX_BYTES = 192 << 10
BOMB_DECODED_BYTES = 64 << 20


def _reemit_with_stream(pdf: bytes, num: int, body: bytes) -> bytes:
    """Re-serialize a ``build_pdf`` document with object ``num`` replaced
    by ``body``, rebuilding the xref so offsets stay valid."""
    objs = {int(m.group(1)): m.group(2) for m in
            re.finditer(rb"(\d+) 0 obj\n(.*?)\nendobj\n", pdf, re.S)}
    objs[num] = body
    out = bytearray(pdf[:pdf.index(b"1 0 obj\n")])
    offsets = {}
    for n in sorted(objs):
        offsets[n] = len(out)
        out += b"%d 0 obj\n" % n + objs[n] + b"\nendobj\n"
    xref = len(out)
    size = max(objs) + 1
    out += b"xref\n0 %d\n0000000000 65535 f \n" % size
    for n in range(1, size):
        out += b"%010d 00000 n \n" % offsets[n]
    trailer = pdf[pdf.rindex(b"trailer\n"):pdf.rindex(b"startxref\n")]
    return bytes(out + trailer + b"startxref\n%d\n%%%%EOF\n" % xref)


def flate_bomb(source: str) -> bytes:
    """One-page text document whose content stream is FlateDecode and
    inflates to ~64 MiB: the page's text operators followed by one huge
    comment line."""
    lines = pdfgen.sanitize_for_pdf(source).split("\n")
    content = (pdfgen.text_page_content(lines) + b"\n%"
               + b"B" * BOMB_DECODED_BYTES + b"\n")
    z = zlib.compress(content, 9)
    body = (b"<< /Length %d /Filter /FlateDecode >>\nstream\n" % len(z)
            + z + b"\nendstream")
    # build_pdf numbers the first page's content stream object 4
    return _reemit_with_stream(pdfgen.pdf_from_text(source), 4, body)


def _whole_lines(source: str, n_bytes: int) -> list[str]:
    """The lines of a one-page ``pdf_from_text`` document whose ``Tj``
    lies wholly in the first ``n_bytes`` of its content stream."""
    lines = pdfgen.sanitize_for_pdf(source).split("\n")
    k = 0
    # text_page_content(lines[:k]) ends with the k-th Tj, then "\nET"
    while (k < len(lines) and len(pdfgen.text_page_content(lines[:k + 1]))
           - len(b"\nET") <= n_bytes):
        k += 1
    return lines[:k]


def _hostile(rng: random.Random, kind: str, url: str) -> Doc:
    doc = _text_doc(rng, url, 1, lines_per_page=SKEW_SMALL_LINES)
    pdf = doc.pdf
    if kind == "repaired":  # xref table and trailer cut, startxref dangling
        i = pdf.rfind(b"\nxref\n")
        doc.pdf = pdf[:i] + b"\nstartxref\n999999\n%%EOF\n"
    elif kind == "encrypted":  # opened without the user password
        doc.pdf = pdfgen.encrypt_pdf(pdf, "s3cret-%d" % rng.randrange(1000),
                                     "owner")
    elif kind == "truncated":  # cut inside the page content stream
        lo, hi = pdf.index(b"stream\n"), pdf.index(b"endstream")
        cut = rng.randint(lo + (hi - lo) // 4, lo + (hi - lo) * 3 // 4)
        doc.pdf = pdf[:cut]
        doc.kept_text = rendered_text("\n".join(
            _whole_lines(doc.source, cut - lo - len(b"stream\n"))))
    elif kind == "bomb":
        doc.pdf = flate_bomb(doc.source)
    doc.kind = kind
    return doc


def skew_hostile(seed: int) -> list[Doc]:
    """Mostly small text documents, a few giants above ``SKEW_MAX_BYTES``
    and a fixed share of hostile rows, in seeded order."""
    rng = random.Random(f"skew_hostile/{seed}")
    two = SKEW_SMALL_PAGES - SKEW_SMALL_DOCS  # small docs with two pages
    pages = [2] * two + [1] * (SKEW_SMALL_DOCS - two)
    rng.shuffle(pages)
    docs = [_text_doc(rng, _url(rng, "small", i), n,
                      lines_per_page=SKEW_SMALL_LINES)
            for i, n in enumerate(pages)]
    for g in range(SKEW_GIANTS):
        d = _text_doc(rng, _url(rng, "giant", g), SKEW_GIANT_PAGES,
                      lines_per_page=SKEW_GIANT_LINES)
        d.kind = "giant"
        docs.append(d)
    for kind, count in SKEW_HOSTILE.items():
        for h in range(count):
            docs.append(_hostile(rng, kind, _url(rng, kind, h)))
    rng.shuffle(docs)
    return docs


WORKLOADS = {
    "crawl_text": crawl_text,
    "layout_objects": layout_objects,
    "skew_hostile": skew_hostile,
}


def write_parquet(docs: list[Doc], seed: int, path: str) -> None:
    """The Common-Crawl-shaped input table the program reads."""
    rng = random.Random(f"warc_ts/{seed}")
    pq.write_table(pa.table({
        "url": [d.url for d in docs],
        "warc_ts": [1_700_000_000_000 + rng.randrange(10**9) for _ in docs],
        "html": [d.pdf for d in docs],
        "text": [d.source for d in docs],
        "lang": ["en"] * len(docs),
    }, schema=INPUT_SCHEMA), path)
