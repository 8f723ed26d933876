"""PDF document structure parser: xref/trailer/objects/page tree.

From-scratch pure-Python equivalent of the reference's lopdf backend
(crates/pdfplumber/src/lopdf_backend.rs). Supports classic xref tables,
xref streams, object streams (/Type /ObjStm), incremental updates
(/Prev chains), and a lenient repair scan when the xref is broken
(reference: Pdf::open_with_repair, crates/pdfplumber/src/pdf.rs:248-258).
"""

from __future__ import annotations

import re

from .filters import decode_content, decode_stream
from .objects import Kw, Lexer, LexError, Name, Ref, Stream

_OBJ_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b")


class PdfError(Exception):
    pass


class PdfDocument:
    """Parsed PDF: object store + page list with inherited attributes."""

    def __init__(self, data: bytes, warnings: list[str] | None = None,
                 password: bytes | str = b"") -> None:
        self.data = data
        self.warnings: list[str] = warnings if warnings is not None else []
        self.password = password.encode("latin-1") if isinstance(password, str) else password
        self.repaired = False
        # obj num -> (offset, gen) for regular objects, or ("objstm", stm_num, idx)
        self._xref: dict[int, tuple] = {}
        self._cache: dict[int, object] = {}
        self.trailer: dict = {}
        self._decryptor = None
        self._encrypt_num: int | None = None
        self._parse_structure()
        self._setup_encryption()

    def _setup_encryption(self) -> None:
        """Empty-password auto-decrypt for the standard security handler
        (pdf.rs:167-206). Must run after the trailer is known and before
        any non-xref object is served."""
        enc_ref = self.trailer.get("Encrypt")
        if enc_ref is None:
            return
        if isinstance(enc_ref, Ref):
            self._encrypt_num = enc_ref.num
        enc = self.resolve(enc_ref)
        if not isinstance(enc, dict):
            return
        doc_id = b""
        ids = self.trailer.get("ID")
        if isinstance(ids, list) and ids and isinstance(ids[0], bytes):
            doc_id = ids[0]
        try:
            from .crypt import Decryptor

            dec = Decryptor(enc, doc_id, self.resolve, self.password)
        except Exception as e:  # noqa: BLE001 — lenient
            self.warnings.append(f"encryption setup failed: {e}")
            return
        if dec.ok:
            if not dec.valid:
                self.warnings.append(
                    "password did not validate against /U; "
                    "content may remain garbled"
                )
            self._decryptor = dec
            # objects fetched while building xref/trailer were undecrypted
            self._cache = {
                k: v for k, v in self._cache.items() if k == self._encrypt_num
            }
        else:
            self.warnings.append("unsupported encryption; data left encrypted")

    # -- structure ---------------------------------------------------------

    def _parse_structure(self) -> None:
        data = self.data
        try:
            idx = data.rindex(b"startxref")
        except ValueError:
            self._repair_scan()
            return
        lexer = Lexer(data, idx + len(b"startxref"))
        try:
            start = lexer.next_object()
        except (StopIteration, LexError):
            self._repair_scan()
            return
        if not isinstance(start, int) or not (0 <= start < len(data)):
            self._repair_scan()
            return
        seen: set[int] = set()
        offset: int | None = start
        try:
            while offset is not None and offset not in seen:
                seen.add(offset)
                offset = self._parse_xref_section(offset)
        except (PdfError, LexError, ValueError, KeyError) as e:
            self.warnings.append(f"xref parse failed ({e}); repairing")
            self._repair_scan()
            return
        if "Root" not in self.trailer:
            self._repair_scan()

    def _parse_xref_section(self, offset: int) -> int | None:
        """Parse one xref section (classic table or xref stream).
        Returns the /Prev offset or None."""
        data = self.data
        lexer = Lexer(data, offset)
        lexer.skip_ws()
        if data.startswith(b"xref", lexer.pos):
            return self._parse_classic_xref(lexer.pos + 4)
        # else: xref stream `N G obj << ... >> stream`
        num, gen, obj = self._parse_indirect_at(offset)
        if not isinstance(obj, Stream):
            raise PdfError("startxref does not point at xref")
        return self._load_xref_stream(obj)

    def _parse_classic_xref(self, pos: int) -> int | None:
        data = self.data
        lexer = Lexer(data, pos)
        while True:
            lexer.skip_ws()
            if data.startswith(b"trailer", lexer.pos):
                lexer.pos += len(b"trailer")
                trailer = lexer.next_object()
                if isinstance(trailer, dict):
                    for k, v in trailer.items():
                        self.trailer.setdefault(k, v)
                    prev = trailer.get("Prev")
                    xstm = trailer.get("XRefStm")
                    if isinstance(xstm, int):
                        # hybrid-reference file
                        try:
                            _, _, obj = self._parse_indirect_at(xstm)
                            if isinstance(obj, Stream):
                                self._load_xref_stream(obj, merge_trailer=False)
                        except (PdfError, LexError):
                            pass
                    return prev if isinstance(prev, int) else None
                return None
            # subsection header: first_num count
            try:
                first = lexer.next_object()
                count = lexer.next_object()
            except (StopIteration, LexError):
                return None
            if not isinstance(first, int) or not isinstance(count, int):
                return None
            lexer.skip_ws()
            for i in range(count):
                entry = data[lexer.pos : lexer.pos + 20]
                m = re.match(rb"(\d{10})\s(\d{5})\s([nf])", entry)
                if not m:
                    # lenient: loosely formatted entries
                    sub = Lexer(data, lexer.pos)
                    try:
                        off = sub.next_object()
                        g = sub.next_object()
                        kind = sub.next_object()
                    except (StopIteration, LexError):
                        return None
                    lexer.pos = sub.pos
                    if isinstance(kind, Kw) and kind.name == b"n":
                        self._xref.setdefault(first + i, (int(off), int(g)))
                    continue
                off, g, kind = int(m.group(1)), int(m.group(2)), m.group(3)
                if kind == b"n":
                    self._xref.setdefault(first + i, (off, g))
                # advance exactly past this entry
                adv = m.end()
                while lexer.pos + adv < len(data) and data[lexer.pos + adv] in b"\r\n ":
                    adv += 1
                lexer.pos += adv

    def _load_xref_stream(self, stm: Stream, merge_trailer: bool = True) -> int | None:
        d = stm.dict
        if merge_trailer:
            for k, v in d.items():
                if k not in ("Length", "Filter", "DecodeParms", "W", "Index", "Type"):
                    self.trailer.setdefault(k, v)
        content = decode_stream(self, stm)
        w = [int(x) for x in d.get("W", [1, 2, 1])]
        size = int(self.resolve(d.get("Size", 0)) or 0)
        index = d.get("Index") or [0, size]
        rowlen = sum(w)
        pos = 0
        for s in range(0, len(index), 2):
            first, count = int(index[s]), int(index[s + 1])
            for i in range(count):
                row = content[pos : pos + rowlen]
                pos += rowlen
                if len(row) < rowlen:
                    break
                fields = []
                o = 0
                for width in w:
                    val = int.from_bytes(row[o : o + width], "big") if width else None
                    fields.append(val)
                    o += width
                ftype = fields[0] if w[0] else 1
                if ftype == 1:
                    self._xref.setdefault(first + i, (fields[1], fields[2] or 0))
                elif ftype == 2:
                    self._xref.setdefault(first + i, ("objstm", fields[1], fields[2]))
        prev = d.get("Prev")
        return int(prev) if isinstance(prev, int) else None

    def _repair_scan(self) -> None:
        """Scan the file for `N G obj` patterns (repair path).

        pdfminer's xref fallback stops collecting at the first `trailer`
        line, so duplicate objects appended after it (fuzzed incremental
        updates) are invisible — replicate that for golden parity
        (oss-fuzz corpus: a post-trailer page copy adds /Rotate 90)."""
        self.repaired = True
        self._xref.clear()
        t = re.search(rb"(?m)^\s*trailer\b", self.data)
        limit = t.start() if t else len(self.data)
        for m in _OBJ_RE.finditer(self.data, 0, limit):
            # later occurrences win (incremental updates append)
            self._xref[int(m.group(1))] = (m.start(), int(m.group(2)))
        if not self._xref:  # no object before the first trailer: scan all
            for m in _OBJ_RE.finditer(self.data):
                self._xref[int(m.group(1))] = (m.start(), int(m.group(2)))
        # find a trailer dict (last one wins) or any /Root
        for m in re.finditer(rb"trailer", self.data):
            lexer = Lexer(self.data, m.end())
            try:
                t = lexer.next_object()
            except (StopIteration, LexError):
                continue
            if isinstance(t, dict) and "Root" in t:
                self.trailer = t
        if "Root" not in self.trailer:
            # search object store for a /Type /Catalog
            for num in list(self._xref):
                try:
                    obj = self.get_object(num)
                except (PdfError, LexError):
                    continue
                if isinstance(obj, dict) and str(obj.get("Type", "")) == "Catalog":
                    self.trailer["Root"] = Ref(num, 0)
                    break

    # -- object access -----------------------------------------------------

    def _parse_indirect_at(self, offset: int):
        """Parse `num gen obj ... endobj` at byte offset."""
        data = self.data
        lexer = Lexer(data, offset)
        num = lexer.next_object()
        gen = lexer.next_object()
        kw = lexer.next_object()
        if not (isinstance(num, int) and isinstance(gen, int) and isinstance(kw, Kw) and kw.name == b"obj"):
            raise PdfError(f"no obj at {offset}")
        obj = lexer.next_object()
        lexer.skip_ws()
        if isinstance(obj, dict) and data.startswith(b"stream", lexer.pos):
            p = lexer.pos + len(b"stream")
            if data.startswith(b"\r\n", p):
                p += 2
            elif data.startswith(b"\n", p) or data.startswith(b"\r", p):
                p += 1
            length = self.resolve(obj.get("Length"))
            if self.repaired:
                # pdfminer's xref-fallback ignores /Length entirely and
                # accumulates stream data until the endstream line — a
                # fuzzed short Length must not truncate the stream
                raw = self._scan_stream_end(p)
            elif isinstance(length, (int, float)) and length >= 0:
                raw = data[p : p + int(length)]
                # validate: endstream should follow (within slack)
                tail = data[p + int(length) : p + int(length) + 32]
                if b"endstream" not in tail:
                    raw = self._scan_stream_end(p)
            else:
                raw = self._scan_stream_end(p)
            obj = Stream(obj, raw)
        return num, gen, obj

    def _scan_stream_end(self, start: int) -> bytes:
        idx = self.data.find(b"endstream", start)
        if idx < 0:
            return self.data[start:]
        end = idx
        while end > start and self.data[end - 1] in b"\r\n":
            end -= 1
        return self.data[start:end]

    def get_object(self, num: int):
        if num in self._cache:
            return self._cache[num]
        entry = self._xref.get(num)
        if entry is None:
            return None
        self._cache[num] = None  # cycle guard
        if entry[0] == "objstm":
            # objects inside an object stream are covered by the container
            # stream's decryption — no per-object pass needed
            obj = self._get_from_objstm(entry[1], entry[2], num)
        else:
            gen = entry[1]
            try:
                onum, pgen, obj = self._parse_indirect_at(entry[0])
                gen = pgen
                if onum != num:
                    # xref off-by-a-bit: scan nearby for the right object
                    obj = self._find_object_by_scan(num) or obj
            except (PdfError, LexError, StopIteration):
                obj = self._find_object_by_scan(num)
            if self._decryptor is not None and num != self._encrypt_num:
                try:
                    obj = self._decryptor.decrypt_object(obj, num, gen)
                except Exception as e:  # noqa: BLE001
                    self.warnings.append(f"decrypt failed for obj {num}: {e}")
        self._cache[num] = obj
        return obj

    def _find_object_by_scan(self, num: int):
        pat = re.compile(rb"(?<![0-9])" + str(num).encode() + rb"\s+\d+\s+obj\b")
        m = pat.search(self.data)
        if not m:
            return None
        try:
            _, _, obj = self._parse_indirect_at(m.start())
            return obj
        except (PdfError, LexError, StopIteration):
            return None

    def _get_from_objstm(self, stm_num: int, idx: int, want_num: int):
        stm = self.get_object(stm_num)
        if not isinstance(stm, Stream):
            return None
        content = decode_stream(self, stm)
        n = int(self.resolve(stm.dict.get("N", 0)) or 0)
        first = int(self.resolve(stm.dict.get("First", 0)) or 0)
        lexer = Lexer(content, 0, first)
        pairs = []
        try:
            for _ in range(n):
                onum = lexer.next_object()
                ooff = lexer.next_object()
                pairs.append((int(onum), int(ooff)))
        except (StopIteration, LexError, TypeError, ValueError):
            pass
        for i, (onum, ooff) in enumerate(pairs):
            if i == idx or onum == want_num:
                sub = Lexer(content, first + ooff)
                try:
                    return sub.next_object()
                except (StopIteration, LexError):
                    return None
        return None

    def resolve(self, obj):
        """Fully resolve an object through indirect references."""
        depth = 0
        while isinstance(obj, Ref) and depth < 32:
            obj = self.get_object(obj.num)
            depth += 1
        return obj

    # -- page tree ---------------------------------------------------------

    _INHERITED = ("Resources", "MediaBox", "CropBox", "Rotate")

    def pages(self) -> list[dict]:
        """Flattened page list; each dict carries resolved inherited attrs."""
        root = self.resolve(self.trailer.get("Root"))
        if not isinstance(root, dict):
            self.warnings.append("no /Root catalog; scanning for pages")
            return self._pages_by_scan()
        tree = self.resolve(root.get("Pages"))
        if not isinstance(tree, dict):
            return self._pages_by_scan()
        out: list[dict] = []
        self._walk_pages(tree, {}, out, set(), 0)
        if not out:
            return self._pages_by_scan()
        return out

    def _walk_pages(self, node: dict, inherited: dict, out: list, seen: set, depth: int) -> None:
        if depth > 64:
            return
        inh = dict(inherited)
        for k in self._INHERITED:
            if k in node:
                inh[k] = node[k]
        kids = self.resolve(node.get("Kids"))
        node_type = str(node.get("Type", ""))
        if node_type == "Page" or (kids is None and node_type != "Pages"):
            page = dict(node)
            for k, v in inh.items():
                page.setdefault(k, v)
            out.append(page)
            return
        if not isinstance(kids, list):
            return
        for kid in kids:
            key = (kid.num, kid.gen) if isinstance(kid, Ref) else id(kid)
            if key in seen:
                continue
            seen.add(key)
            knode = self.resolve(kid)
            if isinstance(knode, dict):
                self._walk_pages(knode, inh, out, seen, depth + 1)

    def _pages_by_scan(self) -> list[dict]:
        out = []
        for num in sorted(self._xref):
            obj = self.get_object(num)
            if isinstance(obj, dict) and str(obj.get("Type", "")) == "Page":
                out.append(obj)
        return out

    def page_content(self, page: dict) -> bytes:
        """Concatenated decoded content streams of a page (joined by \\n),
        under the content budget (filters.decode_content)."""
        contents = self.resolve(page.get("Contents"))
        if not isinstance(contents, list):
            contents = [contents]
        return decode_content(self, [c for c in map(self.resolve, contents)
                                     if isinstance(c, Stream)])

    def metadata(self) -> dict:
        info = self.resolve(self.trailer.get("Info"))
        out = {}
        if isinstance(info, dict):
            for k, v in info.items():
                v = self.resolve(v)
                if isinstance(v, bytes):
                    try:
                        if v.startswith(b"\xfe\xff"):
                            v = v[2:].decode("utf-16-be", "replace")
                        else:
                            v = v.decode("latin-1")
                    except UnicodeDecodeError:
                        v = v.decode("latin-1", "replace")
                out[str(k)] = v if isinstance(v, (str, int, float, bool)) else str(v)
        return out
