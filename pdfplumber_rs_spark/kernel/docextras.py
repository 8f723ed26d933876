"""Document-level extractors: annotations, hyperlinks, bookmarks,
and regex search over chars.

Reference parity: crates/pdfplumber-core/src/annotation.rs:70-84
(annot_type/bbox/contents/author/date/raw_subtype),
hyperlink.rs:15-26 (bbox + resolved /A /URI or /Dest), bookmark.rs:13-27
(title/level/page_number/dest_top), search.rs:59-145 (concat char texts,
regex over full text, match → union bbox of constituent chars).
"""

from __future__ import annotations

import re
from itertools import accumulate

from .chars import CharColumns
from .objects import Name, Ref, Stream

_KNOWN_SUBTYPES = {
    "Text", "Link", "FreeText", "Line", "Square", "Circle", "Polygon",
    "PolyLine", "Highlight", "Underline", "Squiggly", "StrikeOut",
    "Stamp", "Caret", "Ink", "Popup", "FileAttachment", "Sound",
    "Movie", "Widget", "Screen", "PrinterMark", "TrapNet", "Watermark",
}


def _pdf_string(v) -> str | None:
    if isinstance(v, bytes):
        if v.startswith(b"\xfe\xff"):
            return v[2:].decode("utf-16-be", "replace")
        return v.decode("latin-1", "replace")
    if isinstance(v, str):
        return v
    return None


def _rect_to_bbox(doc, rect, geom) -> tuple | None:
    if not isinstance(rect, list) or len(rect) != 4:
        return None
    try:
        x0, y0, x1, y1 = (float(doc.resolve(v)) for v in rect)
    except (TypeError, ValueError):
        return None
    lo_x, hi_x = min(x0, x1), max(x0, x1)
    lo_y, hi_y = min(y0, y1), max(y0, y1)
    return geom.normalize_bbox(lo_x, lo_y, hi_x, hi_y)


def page_annotations(doc, page: dict, geom) -> list[dict]:
    """/Annots → [{annot_type, raw_subtype, x0, top, x1, bottom,
    contents, author, date, uri}]."""
    out: list[dict] = []
    annots = doc.resolve(page.get("Annots"))
    if not isinstance(annots, list):
        return out
    for a in annots:
        ad = doc.resolve(a)
        if isinstance(ad, Stream):
            ad = ad.dict
        if not isinstance(ad, dict):
            continue
        subtype = doc.resolve(ad.get("Subtype"))
        raw = str(subtype) if subtype is not None else "Unknown"
        bbox = _rect_to_bbox(doc, doc.resolve(ad.get("Rect")), geom)
        if bbox is None:
            continue
        uri = None
        action = doc.resolve(ad.get("A"))
        if isinstance(action, dict):
            uri = _pdf_string(doc.resolve(action.get("URI")))
        out.append(
            {
                "annot_type": raw if raw in _KNOWN_SUBTYPES else "Other",
                "raw_subtype": raw,
                "x0": bbox[0], "top": bbox[1],
                "x1": bbox[2], "bottom": bbox[3],
                "contents": _pdf_string(doc.resolve(ad.get("Contents"))),
                "author": _pdf_string(doc.resolve(ad.get("T"))),
                "date": _pdf_string(doc.resolve(ad.get("M"))),
                "uri": uri,
            }
        )
    return out


def hyperlinks(annotations: list[dict]) -> list[dict]:
    """The Link annotations of page_annotations' list that have a
    resolvable target → [{x0, top, x1, bottom, uri}]."""
    out: list[dict] = []
    for a in annotations:
        if a["raw_subtype"] != "Link":
            continue
        uri = a["uri"]
        if uri is None:
            continue
        out.append({"x0": a["x0"], "top": a["top"], "x1": a["x1"],
                    "bottom": a["bottom"], "uri": uri})
    return out


def build_page_index(doc) -> dict[tuple, int]:
    """Page (num, gen) ref → 0-based page index, via the /Pages tree."""
    page_index: dict[tuple, int] = {}
    root = doc.resolve(doc.trailer.get("Root"))
    if not isinstance(root, dict):
        return page_index
    tree = doc.resolve(root.get("Pages"))

    def walk_pages(node, seen: set) -> None:
        kids = doc.resolve(node.get("Kids")) if isinstance(node, dict) else None
        if not isinstance(kids, list):
            return
        for kid in kids:
            if isinstance(kid, Ref):
                key = (kid.num, kid.gen)
                if key in seen:
                    continue
                seen.add(key)
                knode = doc.resolve(kid)
                if isinstance(knode, dict):
                    if str(knode.get("Type", "")) == "Page":
                        page_index[key] = len(page_index)
                    else:
                        walk_pages(knode, seen)

    if isinstance(tree, dict):
        walk_pages(tree, set())
    return page_index


def _walk_acroform(doc) -> list[dict]:
    """AcroForm tree walk (form_field.rs; pdf.rs:354). Names are dotted
    through parent /T entries; FT and V inherit from parents; page
    resolution via /P against the page tree (0-indexed). Each terminal
    row additionally carries `_v_obj`, the resolved raw /V object, so
    dict-valued fields (e.g. /Sig) keep their structure — signatures()
    must not re-pair values by index (nested /Kids diverge)."""
    root = doc.resolve(doc.trailer.get("Root"))
    if not isinstance(root, dict):
        return []
    acro = doc.resolve(root.get("AcroForm"))
    if not isinstance(acro, dict):
        return []
    fields = doc.resolve(acro.get("Fields"))
    if not isinstance(fields, list):
        return []
    page_index = build_page_index(doc)
    out: list[dict] = []
    seen: set = set()

    def walk(ref, prefix: str, ftype: str | None, v_obj, depth: int) -> None:
        if depth > 32:
            return
        if isinstance(ref, Ref):
            key = (ref.num, ref.gen)
            if key in seen:
                return
            seen.add(key)
        fd = doc.resolve(ref)
        if isinstance(fd, Stream):
            fd = fd.dict
        if not isinstance(fd, dict):
            return
        t = _pdf_string(doc.resolve(fd.get("T")))
        name = f"{prefix}.{t}" if prefix and t else (t or prefix)
        ft = doc.resolve(fd.get("FT"))
        ftype = str(ft) if ft is not None else ftype
        if "V" in fd:
            v_obj = doc.resolve(fd.get("V"))
        kids = doc.resolve(fd.get("Kids"))
        if isinstance(kids, list) and kids:
            for k in kids:
                walk(k, name, ftype, v_obj, depth + 1)
            return
        # terminal field (usually merged with its widget annotation)
        value = str(v_obj) if isinstance(v_obj, Name) else _pdf_string(v_obj)
        row = {"name": name, "field_type": ftype, "value": value,
               "page_number": None, "x0": None, "top": None,
               "x1": None, "bottom": None, "_v_obj": v_obj}
        p = fd.get("P")
        if isinstance(p, Ref):
            pn = page_index.get((p.num, p.gen))
            if pn is not None:
                row["page_number"] = pn
                pd = doc.resolve(p)
                if isinstance(pd, dict):
                    from .page import PageGeometry

                    mb = doc.resolve(pd.get("MediaBox"))
                    if isinstance(mb, list) and len(mb) == 4:
                        geom = PageGeometry(
                            tuple(float(doc.resolve(v)) for v in mb),
                            int(doc.resolve(pd.get("Rotate")) or 0),
                        )
                        bbox = _rect_to_bbox(doc, doc.resolve(fd.get("Rect")), geom)
                        if bbox is not None:
                            row["x0"], row["top"], row["x1"], row["bottom"] = bbox
        out.append(row)

    for f in fields:
        walk(f, "", None, None, 0)
    return out


def acroform_fields(doc) -> list[dict]:
    """Public D3 surface: the AcroForm walk minus the raw /V object."""
    out = []
    for row in _walk_acroform(doc):
        row = dict(row)
        row.pop("_v_obj", None)
        out.append(row)
    return out


def bookmarks(doc) -> list[dict]:
    """Flattened /Outlines walk → [{title, level, page_number,
    dest_top}] (page_number 0-indexed)."""
    root = doc.resolve(doc.trailer.get("Root"))
    if not isinstance(root, dict):
        return []
    outlines = doc.resolve(root.get("Outlines"))
    if not isinstance(outlines, dict):
        return []

    page_index = build_page_index(doc)

    out: list[dict] = []
    seen_items: set = set()

    def resolve_dest(item: dict):
        dest = doc.resolve(item.get("Dest"))
        if dest is None:
            action = doc.resolve(item.get("A"))
            if isinstance(action, dict) and str(doc.resolve(action.get("S")) or "") == "GoTo":
                dest = doc.resolve(action.get("D"))
        if isinstance(dest, (Name, bytes, str)):
            return None, None  # named destination: not resolved (lenient)
        if isinstance(dest, list) and dest:
            target = dest[0]
            pn = None
            if isinstance(target, Ref):
                pn = page_index.get((target.num, target.gen))
            elif isinstance(target, int):
                pn = target
            top = None
            if len(dest) >= 3 and str(dest[1]) == "XYZ":
                t = doc.resolve(dest[3]) if len(dest) > 3 else None
                if isinstance(t, (int, float)):
                    top = float(t)
            return pn, top
        return None, None

    def walk(item_ref, level: int, depth: int) -> None:
        if depth > 64:
            return
        item = doc.resolve(item_ref)
        while isinstance(item, dict):
            key = id(item)
            if isinstance(item_ref, Ref):
                key = (item_ref.num, item_ref.gen)
            if key in seen_items:
                return
            seen_items.add(key)
            title = _pdf_string(doc.resolve(item.get("Title")))
            if title is not None:
                pn, top = resolve_dest(item)
                out.append({"title": title, "level": level,
                            "page_number": pn, "dest_top": top})
            first = item.get("First")
            if first is not None:
                walk(first, level + 1 if title is not None else level, depth + 1)
            item_ref = item.get("Next")
            item = doc.resolve(item_ref) if item_ref is not None else None

    walk(outlines.get("First"), 0, 0)
    return out


def structure_tree(doc) -> list[dict]:
    """D5: flattened /StructTreeRoot walk (struct_tree.rs; Spark has no
    recursive types so the tree is encoded as rows with level/parent):
    → [{elem_id, parent_id, level, s_type, page_number, mcid}] in
    depth-first order; elem_id is the DFS index, parent_id -1 for roots."""
    root = doc.resolve(doc.trailer.get("Root"))
    if not isinstance(root, dict):
        return []
    st = doc.resolve(root.get("StructTreeRoot"))
    if not isinstance(st, dict):
        return []
    page_index = build_page_index(doc)
    out: list[dict] = []
    seen: set = set()

    def walk(node, parent_id: int, level: int, page_hint) -> None:
        if len(out) > 100000 or level > 64:  # budget
            return
        if isinstance(node, Ref):
            key = (node.num, node.gen)
            if key in seen:
                return
            seen.add(key)
        nd = doc.resolve(node)
        if isinstance(nd, Stream):
            nd = nd.dict
        if isinstance(nd, list):
            for kid in nd:
                walk(kid, parent_id, level, page_hint)
            return
        if isinstance(nd, int):
            # a bare integer kid IS an MCID on the inherited page
            out.append({"elem_id": len(out), "parent_id": parent_id,
                        "level": level, "s_type": None,
                        "page_number": page_hint, "mcid": nd})
            return
        if not isinstance(nd, dict):
            return
        if "MCID" in nd:  # marked-content reference dict
            pg = nd.get("Pg")
            pn = page_index.get((pg.num, pg.gen)) if isinstance(pg, Ref) else page_hint
            v = doc.resolve(nd.get("MCID"))
            out.append({"elem_id": len(out), "parent_id": parent_id,
                        "level": level, "s_type": None,
                        "page_number": pn,
                        "mcid": v if isinstance(v, int) else None})
            return
        s = doc.resolve(nd.get("S"))
        pg = nd.get("Pg")
        pn = page_index.get((pg.num, pg.gen)) if isinstance(pg, Ref) else page_hint
        elem_id = len(out)
        out.append({"elem_id": elem_id, "parent_id": parent_id,
                    "level": level, "s_type": str(s) if s is not None else None,
                    "page_number": pn, "mcid": None})
        kids = nd.get("K")
        if kids is not None:
            kd = doc.resolve(kids)
            if isinstance(kd, int):
                # single-MCID shorthand: attach to THIS element
                out[elem_id]["mcid"] = kd
            else:
                walk(kids, elem_id, level + 1, pn)

    walk(st.get("K"), -1, 0, None)
    return out


def search_chars(cols: CharColumns, pattern: str, regex: bool = True,
                 case: bool = True) -> list[dict]:
    """Concat char texts → regex/literal match over the page text →
    [{text, start, end, x0, top, x1, bottom}] with the union bbox of
    the constituent chars (search.rs:59-145) over a page's CharColumns."""
    if not len(cols):
        return []
    # char i covers text offsets [starts[i], starts[i+1])
    texts = [t or "" for t in cols.text]
    full = "".join(texts)
    starts = list(accumulate(map(len, texts), initial=0))
    flags = 0 if case else re.IGNORECASE
    pat = pattern if regex else re.escape(pattern)
    out: list[dict] = []
    try:
        compiled = re.compile(pat, flags)
    except re.error:
        return []
    import bisect

    x0, top = cols.x0.tolist(), cols.top.tolist()
    x1, bottom = cols.x1.tolist(), cols.bottom.tolist()
    for m in compiled.finditer(full):
        s, e = m.start(), m.end()
        if e <= s:
            continue
        first = bisect.bisect_right(starts, s) - 1
        end = bisect.bisect_right(starts, e - 1)  # one past the last char
        out.append(
            {
                "text": m.group(0),
                "start": s,
                "end": e,
                "x0": min(x0[first:end]),
                "top": min(top[first:end]),
                "x1": max(x1[first:end]),
                "bottom": max(bottom[first:end]),
            }
        )
    return out


def signatures(doc) -> list[dict]:
    """D6 (signature.rs, pdf.rs:791): AcroForm /Sig fields → [{name,
    signer, sign_date, reason, location, has_byte_range}]. The /V
    signature dictionary is taken from the SAME recursive walk that
    enumerates the fields (nested /Kids and inherited /FT stay paired
    with the right field)."""
    out: list[dict] = []
    for f in _walk_acroform(doc):
        if f.get("field_type") != "Sig":
            continue
        row = {"name": f["name"], "signer": None, "sign_date": None,
               "reason": None, "location": None,
               "has_byte_range": False, "page_number": f["page_number"]}
        v = f.get("_v_obj")
        if isinstance(v, Stream):
            v = v.dict
        if isinstance(v, dict):
            row["signer"] = _pdf_string(doc.resolve(v.get("Name")))
            row["sign_date"] = _pdf_string(doc.resolve(v.get("M")))
            row["reason"] = _pdf_string(doc.resolve(v.get("Reason")))
            row["location"] = _pdf_string(doc.resolve(v.get("Location")))
            row["has_byte_range"] = isinstance(
                doc.resolve(v.get("ByteRange")), list)
        out.append(row)
    return out


def validate(doc) -> list[dict]:
    """D7 (validation.rs, pdf.rs:776): concrete spec checks →
    [{code, severity, message}]. Lenient diagnostics, never raises."""
    out: list[dict] = []

    def emit(code: str, severity: str, message: str) -> None:
        out.append({"code": code, "severity": severity, "message": message})

    if "Root" not in doc.trailer:
        emit("no-root", "error", "trailer has no /Root catalog")
    if getattr(doc, "repaired", False):
        emit("repaired-xref", "warning",
             "cross-reference table unusable; structure recovered by scan")
    pages = doc.pages()
    if not pages:
        emit("no-pages", "error", "document has no pages")
    for i, pd in enumerate(pages):
        if not isinstance(doc.resolve(pd.get("MediaBox")), list):
            emit("missing-mediabox", "warning",
                 f"page {i + 1} has no /MediaBox (letter assumed)")
        rot = doc.resolve(pd.get("Rotate"))
        if rot is not None and (not isinstance(rot, (int, float))
                                or int(rot) % 90 != 0):
            emit("bad-rotate", "warning", f"page {i + 1}: /Rotate {rot!r}")
        if pd.get("Contents") is None:
            emit("missing-contents", "warning",
                 f"page {i + 1} has no /Contents")
    for w in doc.warnings:
        if "encrypt" in w.lower() or "password" in w.lower():
            emit("encryption", "warning", w)
    return out
