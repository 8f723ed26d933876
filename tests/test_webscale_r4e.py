"""Round-4e operators: burst detection, containment pairs,
edit-distance near-dups, OOV-rate vocabulary audit."""

from datetime import datetime

import pytest


# ---------------------------------------------------------------------------
# timeseries.event_spikes


def test_event_spikes_flags_burst_hours(spark):
    from pdfplumber_rs_spark.functions.timeseries import event_spikes

    def t(h, m):
        return datetime(2024, 1, 1, h, m)

    rows = ([(i, t(0, i % 50), "err") for i in range(2)]       # hour 0: 2
            + [(10 + i, t(1, i % 50), "err") for i in range(2)]  # hour 1: 2
            + [(20 + i, t(2, i % 50), "err") for i in range(8)]  # hour 2: 8
            + [(40 + i, t(0, i % 50), "ok") for i in range(5)])  # other type
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string")
    out = {(r.event_type, r.hour_ts): r
           for r in event_spikes(df).collect()}
    h0 = int(datetime(2024, 1, 1, 0).timestamp())
    h1 = int(datetime(2024, 1, 1, 1).timestamp())
    h2 = int(datetime(2024, 1, 1, 2).timestamp())
    assert out[("err", h0)].trail_avg is None
    assert out[("err", h0)].spike is False          # no baseline → never
    assert out[("err", h1)].trail_avg == 2.0
    assert out[("err", h1)].spike is False          # 2 < 2*2
    assert out[("err", h2)].cnt == 8
    assert out[("err", h2)].trail_avg == 2.0
    assert out[("err", h2)].spike is True           # 8 >= 2*2
    assert out[("ok", h0)].spike is False


# ---------------------------------------------------------------------------
# dedup.containment_pairs


def test_containment_detects_quoted_subset(spark):
    from pdfplumber_rs_spark.functions.dedup import containment_pairs

    quote = "alpha beta gamma delta epsilon"
    long_doc = quote + " plus lots of extra framing words around it all"
    df = spark.createDataFrame(
        [(1, long_doc, "en"), (2, quote, "en"),
         (3, "totally different words entirely here", "en")],
        "doc_id long, text string, lang string")
    rows = {(r.id_a, r.id_b): r
            for r in containment_pairs(df, n=3, threshold=0.9).collect()}
    assert (1, 2) in rows
    r = rows[(1, 2)]
    assert r.cont_b_in_a == 1.0      # the quote is fully inside doc 1
    assert r.cont_a_in_b < 0.5       # but doc 1 is not inside the quote
    assert (1, 3) not in rows and (2, 3) not in rows


def test_containment_respects_window_and_key(spark):
    from pdfplumber_rs_spark.functions.dedup import containment_pairs

    same = "one two three four five six"
    df = spark.createDataFrame(
        [(1, same, "en"), (2, same, "de"), (50, same, "en")],
        "doc_id long, text string, lang string")
    rows = containment_pairs(df, n=3, threshold=0.5).collect()
    assert rows == []  # cross-lang blocked; id gap 49 > window


# ---------------------------------------------------------------------------
# dedup.levenshtein_pairs


def test_levenshtein_pairs_blocked_prefix(spark):
    from pdfplumber_rs_spark.functions.dedup import levenshtein_pairs

    df = spark.createDataFrame(
        [(1, "The Great Gatsby"),
         (2, "The Great Gatsbby"),   # dist 1, same prefix
         (3, "The Great Gatsbys"),   # dist 1, same prefix
         (4, "A Great Gatsby"),      # different prefix → unseen
         (5, "The Completely Other Title")],
        "doc_id long, title string")
    rows = {(r.id_a, r.id_b): r.dist
            for r in levenshtein_pairs(df).collect()}
    assert rows[(1, 2)] == 1 and rows[(1, 3)] == 1
    assert rows[(2, 3)] == 2  # gatsbby → gatsbys
    assert all(a != 4 and b != 4 for a, b in rows)
    assert (1, 5) not in rows


def test_levenshtein_pairs_length_guard(spark):
    from pdfplumber_rs_spark.functions.dedup import levenshtein_pairs

    df = spark.createDataFrame(
        [(1, "abc"), (2, "abcdefghij")], "doc_id long, title string")
    assert levenshtein_pairs(df).collect() == []


# ---------------------------------------------------------------------------
# text.oov_rate


def test_oov_rate_top_vocab_cut(spark):
    from pdfplumber_rs_spark.functions.text import oov_rate

    # corpus counts: aa x4, bb x3, cc x2, dd x1 → vocab_size=2 keeps aa, bb
    df = spark.createDataFrame(
        [(1, "aa aa bb cc"), (2, "aa aa bb bb cc dd")],
        "doc_id long, text string")
    out = {r.doc_id: r for r in oov_rate(df, vocab_size=2).collect()}
    assert out[1].n_tokens == 4 and out[1].n_oov == 1
    assert out[1].oov_rate == 0.25
    assert out[2].n_tokens == 6 and out[2].n_oov == 2
    assert out[2].oov_rate == pytest.approx(2 / 6, abs=1e-6)


def test_oov_rate_tie_break_is_lexicographic(spark):
    from pdfplumber_rs_spark.functions.text import oov_rate

    # xx and yy tie at 2; vocab_size=1 must keep xx (lexicographic)
    df = spark.createDataFrame(
        [(1, "xx yy"), (2, "yy xx")], "doc_id long, text string")
    out = {r.doc_id: r.n_oov for r in oov_rate(df, vocab_size=1).collect()}
    assert out == {1: 1, 2: 1}
