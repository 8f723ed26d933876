"""S8 CLI sinks: `python -m pdfplumber_rs_spark <command> FILE ...`.

Mirrors the reference CLI surface (crates/pdfplumber-cli/src/cli.rs:
14-376 — text/chars/words/tables/info/annots/links/bookmarks/forms/
search/images/validate/debug; --pages '1,3-5'; --format text|json|csv;
--password; --repair; --layout; --x/y-tolerance) over the same kernel
the Spark engine runs. Single-file tooling only — the distributed path
is spark-submit (scripts/submit_job.py); this exists so a reference CLI
user can run every subcommand they run today.
"""

from __future__ import annotations

import argparse
import csv
import json
import sys

from .config import ExtractOptions, TableSettings, WordOptions
from .kernel.document import Document
from .kernel.layout import extract_text_from_words


def _parse_pages(spec: str | None, n_pages: int) -> list[int]:
    """'1,3-5' → 0-based indices (page_range.rs semantics)."""
    if not spec:
        return list(range(n_pages))
    out: list[int] = []
    for part in spec.split(","):
        part = part.strip()
        if "-" in part:
            lo, hi = part.split("-", 1)
            out.extend(range(int(lo) - 1, int(hi)))
        elif part:
            out.append(int(part) - 1)
    return [i for i in out if 0 <= i < n_pages]


def _open(args) -> Document:
    data = open(args.file, "rb").read()
    opts = ExtractOptions(password=getattr(args, "password", None))
    if getattr(args, "unicode_norm", None):
        opts.unicode_norm = args.unicode_norm
    return Document(data, opts)


def _emit_rows(rows: list[dict], cols: list[str], fmt: str) -> None:
    """Shared TSV/JSON/CSV row sink (chars_cmd.rs shape)."""
    if fmt == "json":
        print(json.dumps(rows))
        return
    if fmt == "csv":
        w = csv.writer(sys.stdout)
        w.writerow(cols)
        for r in rows:
            w.writerow([r.get(c, "") for c in cols])
        return
    print("\t".join(cols))
    for r in rows:
        print("\t".join(str(r.get(c, "")) for c in cols))


def _round(v: float) -> float:
    return round(float(v), 4)


def cmd_text(args) -> int:
    doc = _open(args)
    idxs = _parse_pages(args.pages, doc.page_count)
    from .config import TextOptions

    topt = TextOptions(layout=args.layout) if args.layout else None
    texts = []
    for i in idxs:
        page = doc.page(i)
        texts.append(extract_text_from_words(page.extract_words(), topt))
    if args.format == "json":
        print(json.dumps([
            {"page": i + 1, "text": t} for i, t in zip(idxs, texts)]))
    elif args.format == "html":
        from .kernel.html import page_to_html

        print("\n".join(
            h for h in (page_to_html(doc.page(i)) for i in idxs) if h))
    else:
        print("\n\n".join(texts))
    return 0


def cmd_chars(args) -> int:
    doc = _open(args)
    cols = ["page", "text", "x0", "top", "x1", "bottom", "fontname",
            "size", "doctop", "upright", "direction"]
    rows = []
    for i in _parse_pages(args.pages, doc.page_count):
        for c in doc.page(i).chars:
            rows.append({
                "page": i + 1, "text": c["text"], "x0": _round(c["x0"]),
                "top": _round(c["top"]), "x1": _round(c["x1"]),
                "bottom": _round(c["bottom"]), "fontname": c["fontname"],
                "size": _round(c["size"]), "doctop": _round(c["doctop"]),
                "upright": bool(c["upright"]),
                "direction": c["direction"],
            })
    _emit_rows(rows, cols, args.format)
    return 0


def cmd_words(args) -> int:
    doc = _open(args)
    wopt = WordOptions(x_tolerance=args.x_tolerance,
                       y_tolerance=args.y_tolerance)
    cols = ["page", "text", "x0", "top", "x1", "bottom", "doctop",
            "direction"]
    rows = []
    for i in _parse_pages(args.pages, doc.page_count):
        for w in doc.page(i).extract_words(wopt):
            rows.append({
                "page": i + 1, "text": w["text"], "x0": _round(w["x0"]),
                "top": _round(w["top"]), "x1": _round(w["x1"]),
                "bottom": _round(w["bottom"]),
                "doctop": _round(w["doctop"]),
                "direction": w["direction"],
            })
    _emit_rows(rows, cols, args.format)
    return 0


def cmd_tables(args) -> int:
    doc = _open(args)
    settings = TableSettings(strategy=args.strategy) if args.strategy else None
    found = []
    for i in _parse_pages(args.pages, doc.page_count):
        for t in doc.page(i).find_tables(settings):
            found.append((i + 1, t))
    if args.format == "json":
        print(json.dumps([
            {"page": pg,
             "bbox": [_round(t["bbox"][k])
                      for k in ("x0", "top", "x1", "bottom")],
             "rows": [[(c["text"] if c else None) for c in row]
                      for row in t["rows"]]}
            for pg, t in found]))
    elif args.format == "csv":
        w = csv.writer(sys.stdout)
        for pg, t in found:
            for row in t["rows"]:
                w.writerow([pg] + [(c["text"] if c else "") or "" for c in row])
    else:
        if not found:
            print("No tables found.")
        for pg, t in found:
            print(f"Table (page {pg}, {len(t['rows'])} rows):")
            for row in t["rows"]:
                print("| " + " | ".join(((c["text"] if c else "") or "")
                                        for c in row)
                      + " |")
            print()
    return 0


def cmd_info(args) -> int:
    doc = _open(args)
    idxs = _parse_pages(args.pages, doc.page_count)
    if args.format == "json":
        pages = []
        for i in idxs:
            p = doc.page(i)
            pages.append({
                "page": i + 1, "width": p.width, "height": p.height,
                "rotation": p.rotation, "chars": len(p.char_columns),
                "lines": len(p.lines), "rects": len(p.rects),
                "curves": len(p.curves), "images": len(p.images),
            })
        print(json.dumps({
            "pages": pages, "metadata": doc.metadata(),
            "signatures": doc.signatures(),
        }))
    else:
        for i in idxs:
            p = doc.page(i)
            print(f"Page {i + 1}:")
            print(f"  Dimensions: {p.width:.2f} x {p.height:.2f}")
            print(f"  Rotation: {p.rotation}°")
            print(f"  Chars: {len(p.char_columns)}")
            print(f"  Lines: {len(p.lines)}")
            print(f"  Rects: {len(p.rects)}")
            print(f"  Curves: {len(p.curves)}")
            print(f"  Images: {len(p.images)}")
        meta = doc.metadata()
        if meta:
            print("Metadata:")
            for k, v in meta.items():
                print(f"  {k}: {v}")
    return 0


def cmd_annots(args) -> int:
    doc = _open(args)
    cols = ["page", "type", "x0", "top", "x1", "bottom", "contents",
            "author", "date"]
    rows = []
    for i in _parse_pages(args.pages, doc.page_count):
        for a in doc.page(i).annotations:
            rows.append({
                "page": i + 1, "type": a.get("subtype"),
                "x0": _round(a.get("x0") or 0.0),
                "top": _round(a.get("top") or 0.0),
                "x1": _round(a.get("x1") or 0.0),
                "bottom": _round(a.get("bottom") or 0.0),
                "contents": a.get("contents") or "",
                "author": a.get("title") or "",
                "date": a.get("date") or "",
            })
    _emit_rows(rows, cols, args.format)
    return 0


def cmd_links(args) -> int:
    doc = _open(args)
    cols = ["page", "uri", "x0", "top", "x1", "bottom"]
    rows = []
    for i in _parse_pages(args.pages, doc.page_count):
        for h in doc.page(i).hyperlinks:
            rows.append({
                "page": i + 1, "uri": h.get("uri") or "",
                "x0": _round(h.get("x0") or 0.0),
                "top": _round(h.get("top") or 0.0),
                "x1": _round(h.get("x1") or 0.0),
                "bottom": _round(h.get("bottom") or 0.0),
            })
    _emit_rows(rows, cols, args.format)
    return 0


def cmd_bookmarks(args) -> int:
    doc = _open(args)
    bms = doc.bookmarks()
    if args.format == "json":
        print(json.dumps(bms))
        return 0
    if not bms:
        print("No bookmarks found.")
        return 0
    print("level\tpage\ttitle")
    for b in bms:
        lvl = b.get("level", 0)
        print(f"{lvl}\t{b.get('page_number', '')}\t"
              f"{'  ' * lvl}{b.get('title', '')}")
    return 0


def cmd_forms(args) -> int:
    doc = _open(args)
    cols = ["page", "name", "type", "value", "default_value", "flags",
            "x0", "top", "x1", "bottom"]
    rows = []
    for fld in doc.form_fields():
        rows.append({
            "page": fld.get("page_number") or "",
            "name": fld.get("name") or "",
            "type": fld.get("field_type") or "",
            "value": fld.get("value") or "",
            "default_value": fld.get("default_value") or "",
            "flags": fld.get("flags") or 0,
            "x0": _round(fld.get("x0") or 0.0),
            "top": _round(fld.get("top") or 0.0),
            "x1": _round(fld.get("x1") or 0.0),
            "bottom": _round(fld.get("bottom") or 0.0),
        })
    _emit_rows(rows, cols, args.format)
    return 0


def cmd_search(args) -> int:
    doc = _open(args)
    cols = ["page", "text", "x0", "top", "x1", "bottom"]
    rows = []
    for i in _parse_pages(args.pages, doc.page_count):
        for m in doc.page(i).search(args.pattern, regex=args.regex):
            rows.append({
                "page": i + 1, "text": m["text"], "x0": _round(m["x0"]),
                "top": _round(m["top"]), "x1": _round(m["x1"]),
                "bottom": _round(m["bottom"]),
            })
    _emit_rows(rows, cols, args.format)
    return 0


def cmd_images(args) -> int:
    doc = _open(args)
    if args.format == "json":
        out = []
        for i in _parse_pages(args.pages, doc.page_count):
            out.append({"page": i + 1, "images": [
                {"name": im["name"], "x0": _round(im["x0"]),
                 "top": _round(im["top"]), "x1": _round(im["x1"]),
                 "bottom": _round(im["bottom"]),
                 "src_width": im["src_width"],
                 "src_height": im["src_height"],
                 "colorspace": im["colorspace"],
                 "bits_per_component": im["bits_per_component"]}
                for im in doc.page(i).images]})
        print(json.dumps(out))
    else:
        for i in _parse_pages(args.pages, doc.page_count):
            print(f"--- Page {i + 1} ---")
            for im in doc.page(i).images:
                print(f"{im['name']}\t{_round(im['x0'])}\t"
                      f"{_round(im['top'])}\t{im['src_width']}x"
                      f"{im['src_height']}\t{im['colorspace']}")
    return 0


def cmd_validate(args) -> int:
    doc = _open(args)
    issues = doc.validate()
    if args.format == "json":
        print(json.dumps({"issues": issues, "errors": sum(
            1 for i in issues if i.get("severity") == "error"),
            "warnings": sum(
            1 for i in issues if i.get("severity") == "warning")}))
        return 0
    if not issues:
        print("No issues found.")
        return 0
    for i in issues:
        print(f"[{i.get('severity', '?')}] {i.get('message', '')}")
    errs = sum(1 for i in issues if i.get("severity") == "error")
    warns = sum(1 for i in issues if i.get("severity") == "warning")
    print()
    print(f"Summary: {errs} error(s), {warns} warning(s)")
    return 0


def cmd_debug(args) -> int:
    doc = _open(args)
    out = []
    for i in _parse_pages(args.pages, doc.page_count):
        p = doc.page(i)
        out.append({
            "page": i + 1,
            "chars": len(p.char_columns), "lines": len(p.lines),
            "rects": len(p.rects), "curves": len(p.curves),
            "edges": len(p.edges()), "images": len(p.images),
            "tables": len(p.find_tables(None)),
            "warnings": list(p.warnings),
        })
    print(json.dumps(out))
    return 0


def _add_common(p, formats=("text", "json", "csv")):
    p.add_argument("file")
    p.add_argument("--pages")
    p.add_argument("--format", choices=formats, default="text")
    p.add_argument("--password")
    p.add_argument("--repair", action="store_true")
    p.add_argument("--unicode-norm", dest="unicode_norm",
                   choices=("nfc", "nfd", "nfkc", "nfkd"))


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(prog="pdfplumber_rs_spark")
    sub = ap.add_subparsers(dest="command", required=True)

    p = sub.add_parser("text")
    _add_common(p, formats=("text", "json", "html"))
    p.add_argument("--layout", action="store_true")
    p.set_defaults(fn=cmd_text)

    p = sub.add_parser("chars")
    _add_common(p)
    p.set_defaults(fn=cmd_chars)

    p = sub.add_parser("words")
    _add_common(p)
    p.add_argument("--x-tolerance", type=float, default=3.0)
    p.add_argument("--y-tolerance", type=float, default=3.0)
    p.set_defaults(fn=cmd_words)

    p = sub.add_parser("tables")
    _add_common(p)
    p.add_argument("--strategy",
                   choices=("lattice", "stream", "explicit"))
    p.set_defaults(fn=cmd_tables)

    p = sub.add_parser("info")
    _add_common(p, formats=("text", "json"))
    p.set_defaults(fn=cmd_info)

    p = sub.add_parser("annots")
    _add_common(p)
    p.set_defaults(fn=cmd_annots)

    p = sub.add_parser("links")
    _add_common(p)
    p.set_defaults(fn=cmd_links)

    p = sub.add_parser("bookmarks")
    _add_common(p, formats=("text", "json"))
    p.set_defaults(fn=cmd_bookmarks)

    p = sub.add_parser("forms")
    _add_common(p)
    p.set_defaults(fn=cmd_forms)

    p = sub.add_parser("search")
    p.add_argument("file")
    p.add_argument("pattern")
    p.add_argument("--pages")
    p.add_argument("--format", choices=("text", "json", "csv"),
                   default="text")
    p.add_argument("--password")
    p.add_argument("--repair", action="store_true")
    p.add_argument("--regex", action="store_true", default=True)
    p.add_argument("--literal", dest="regex", action="store_false")
    p.set_defaults(fn=cmd_search)

    p = sub.add_parser("images")
    _add_common(p, formats=("text", "json"))
    p.set_defaults(fn=cmd_images)

    p = sub.add_parser("validate")
    _add_common(p, formats=("text", "json"))
    p.set_defaults(fn=cmd_validate)

    p = sub.add_parser("debug")
    _add_common(p, formats=("json",))
    p.set_defaults(fn=cmd_debug)

    return ap


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    try:
        return args.fn(args)
    except BrokenPipeError:  # head-friendly
        return 0


if __name__ == "__main__":
    sys.exit(main())
