"""Output checks. Pure functions over collected output rows, so the tests
can feed them deliberately wrong expectations.

A document fails when its url is missing or duplicated in the output, or
when its checked output is wrong for its kind:

- ``clean``, ``giant``, ``repaired``: text equals the closed-form
  rendering of the generated lines.
- ``encrypted``: the row carries an error or a warning (any wording).
- ``bomb``: the expected text, or an error or warning.
- ``truncated``: an error or warning, or text that holds at least every
  line wholly before the cut and is a prefix of the expected text
  (content recovered up to the cut, nothing invented). Rows that lost
  text without an error or warning are counted as ``unflagged_loss_rows``.
- ``layout``: the expected page count; every ruled page yields exactly
  its generated grid as cells and every other page yields no cells.
"""

from __future__ import annotations

from collections import Counter, defaultdict
from dataclasses import dataclass, field

from .inputs import Doc


@dataclass
class CheckResult:
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    flagged_rows: int = 0
    unflagged_loss_rows: int = 0

    def fail(self, url: str, why: str) -> None:
        self.failed += 1
        if len(self.problems) < 5:
            self.problems.append(f"{url}: {why}")


def _url_counts(docs: list[Doc], urls, res: CheckResult) -> set[str]:
    """Fail docs whose url is missing or duplicated; return the others."""
    seen = Counter(urls)
    ok = set()
    for d in docs:
        n = seen.get(d.url, 0)
        if n != 1:
            res.fail(d.url, f"url appears {n} times")
        else:
            ok.add(d.url)
    return ok


def check_text(docs: list[Doc], rows: list[dict]) -> CheckResult:
    """``rows``: one dict per output row with ``url``, ``text`` and,
    where the output has them, ``error`` and ``warnings``."""
    res = CheckResult(attempted=len(docs))
    ok = _url_counts(docs, [r["url"] for r in rows], res)
    by_url = {r["url"]: r for r in rows}
    for d in docs:
        if d.url not in ok:
            continue
        r = by_url[d.url]
        text = r.get("text") or ""
        flagged = bool(r.get("error")) or bool(r.get("warnings"))
        res.flagged_rows += flagged
        exact = text == d.expected_text
        if d.kind in ("clean", "giant", "repaired"):
            good = exact
        elif d.kind == "encrypted":
            good = flagged
        elif d.kind == "bomb":
            good = exact or flagged
        elif d.kind == "truncated":
            good = flagged or (text.startswith(d.kept_text)
                               and d.expected_text.startswith(text))
            if good and not flagged and not exact:
                res.unflagged_loss_rows += 1
        else:
            raise ValueError(f"no text check for kind {d.kind!r}")
        if not good:
            res.fail(d.url, f"{d.kind}: text {text[:40]!r} "
                            f"(expected {d.expected_text[:40]!r}), "
                            f"flagged={flagged}")
    return res


def check_cells(docs: list[Doc], pages: list[tuple[str, int]],
                cells: list[tuple]) -> CheckResult:
    """``pages``: (url, page_number) of every output page row;
    ``cells``: (url, page_number, table_idx, row, col, text)."""
    res = CheckResult(attempted=len(docs))
    ok = _url_counts(docs, list({u for u, _ in pages}), res)
    n_pages = Counter(u for u, _ in pages)
    grids: dict[tuple[str, int], dict[int, dict]] = defaultdict(
        lambda: defaultdict(dict))
    for url, page, t, r, c, text in cells:
        grids[(url, page)][t][(r, c)] = text
    for d in docs:
        if d.url not in ok:
            continue
        if n_pages[d.url] != d.n_pages:
            res.fail(d.url, f"{n_pages[d.url]} pages, expected {d.n_pages}")
            continue
        for p in range(1, d.n_pages + 1):
            got = grids.get((d.url, p), {})
            want = d.cells.get(p)
            if want is None:
                if got:
                    res.fail(d.url, f"page {p}: cells on a page without "
                                    "a ruled table")
                    break
                continue
            expect = {(r, c): v for r, row in enumerate(want)
                      for c, v in enumerate(row)}
            if list(got) != [0] or got[0] != expect:
                res.fail(d.url, f"page {p}: cells differ from the "
                                "generated grid")
                break
    return res
