"""Adobe CID -> Unicode lookup for CID-keyed fonts without /ToUnicode.

Parity with crates/pdfplumber-parse/src/cid_font.rs:  a CIDFontType0/2
whose CIDSystemInfo names a predefined Adobe ordering (GB1 / CNS1 /
Japan1 / Korea1) and that carries no usable /ToUnicode CMap resolves
text through Adobe's public CID->UCS2 tables (cmap-resources, the
UniXX-UCS2 columns), the same data pdfminer ships as TOUNICODE pickles
— required for byte parity on e.g. pdfjs/noembed-identity.pdf and
pdfjs/vertical.pdf.

The tables live in data/adobe_cid_ucs2.npz (generated by
scripts/gen_cid_tables.py) and are expanded lazily into one plain dict
per ordering per process; loading is executor-local and happens at most
once per Python worker, never per document.
"""

from __future__ import annotations

from pathlib import Path

_NPZ = Path(__file__).parent / "data" / "adobe_cid_ucs2.npz"

_ORDERINGS = {"GB1", "CNS1", "Japan1", "Korea1"}
_cache: dict[str, dict[int, str] | None] = {}


def _load(ordering: str) -> dict[int, str] | None:
    table = _cache.get(ordering, False)
    if table is not False:
        return table
    result: dict[int, str] | None = None
    if ordering in _ORDERINGS and _NPZ.exists():
        try:
            import numpy as np

            with np.load(_NPZ) as z:
                cids = z[f"{ordering.lower()}_cid"]
                unis = z[f"{ordering.lower()}_uni"]
            result = {
                int(c): chr(int(u)) for c, u in zip(cids.tolist(), unis.tolist())
            }
        except Exception:  # noqa: BLE001 — lenient: fall back to (cid:N)
            result = None
    _cache[ordering] = result
    return result


def cid_to_unicode(ordering: str | None, cid: int) -> str | None:
    """Unicode string for a CID under a predefined Adobe ordering, or
    None when the ordering is unknown / the CID is unmapped."""
    if not ordering:
        return None
    table = _load(ordering)
    if table is None:
        return None
    return table.get(cid)

