"""Round-4d web-pipeline operators: SemDeDup, DSIR importance weights,
sentence segmentation, SURT keys, HTML table extraction."""

import pytest


# ---------------------------------------------------------------------------
# similarity.semdedup


def test_semdedup_drops_within_cluster_near_dups(spark):
    from pdfplumber_rs_spark.functions.similarity import semdedup

    rows = [
        (0, [1.0, 0.0]),      # centroid of cell 0
        (1, [0.0, 1.0]),      # centroid of cell 1
        (2, [1.0, 0.01]),     # cos with 0 ≈ 0.99995 → dropped, keep 0
        (3, [2.0, 0.0]),      # scaled copy of 0 → cos 1.0 → dropped
        (4, [0.0, 5.0]),      # scaled copy of 1 → dropped, keep 1
        (5, [0.9, -0.1]),     # cos with 0 ≈ 0.9939 < 0.999 → kept
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.vec_id: r for r in
           semdedup(df, n_cells=2, threshold=0.999).collect()}
    assert set(out) == {2, 3, 4}
    assert out[2].keep_id == 0 and out[3].keep_id == 0
    assert out[4].keep_id == 1
    assert out[2].cell == 0 and out[4].cell == 1


def test_semdedup_keep_id_is_smallest_near_neighbor(spark):
    from pdfplumber_rs_spark.functions.similarity import semdedup

    # three colinear vectors in one cell: 7 must keep 0 (not 3)
    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (3, [2.0, 0.0]), (7, [3.0, 0.0])],
        "vec_id long, embedding array<float>")
    out = {r.vec_id: r.keep_id for r in
           semdedup(df, n_cells=1, threshold=0.999).collect()}
    assert out == {3: 0, 7: 0}


# ---------------------------------------------------------------------------
# sampling.dsir_weights


def test_dsir_target_like_docs_score_higher(spark):
    from pdfplumber_rs_spark.functions.sampling import dsir_weights

    raw = spark.createDataFrame(
        [(1, "cat cat dog cat"), (2, "zebra quux xylo prob")],
        "doc_id long, text string")
    target = spark.createDataFrame(
        [(10, "cat cat cat cat dog")], "doc_id long, text string")
    out = {r.doc_id: r for r in dsir_weights(raw, target).collect()}
    assert out[1].n_tokens == 4 and out[2].n_tokens == 4
    assert out[1].log_weight > out[2].log_weight


def test_dsir_deterministic_across_runs(spark):
    from pdfplumber_rs_spark.functions.sampling import dsir_weights

    raw = spark.createDataFrame(
        [(i, f"tok{i % 5} tok{i % 3} common") for i in range(20)],
        "doc_id long, text string")
    tgt = raw.filter("doc_id % 4 = 0")
    a = sorted(map(tuple, dsir_weights(raw, tgt).collect()))
    b = sorted(map(tuple, dsir_weights(raw, tgt).collect()))
    assert a == b


# ---------------------------------------------------------------------------
# text.sentence_split


def test_sentence_split_basic(spark):
    from pdfplumber_rs_spark.functions.text import sentence_split

    df = spark.createDataFrame(
        [(1, "Hello world. How are you? Fine!"),
         (2, "no terminator here"),
         (3, ""),
         (4, "...abc. def")],
        "doc_id long, text string")
    rows = sentence_split(df).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append((r.sent_id, r.sentence, r.n_words))
    assert by_doc[1] == [(0, "Hello world.", 2), (1, "How are you?", 3),
                         (2, "Fine!", 1)]
    assert by_doc[2] == [(0, "no terminator here", 3)]
    assert 3 not in by_doc  # empty text → no rows
    # leading ellipsis run is skipped; terminators stay attached
    assert by_doc[4] == [(0, "abc.", 1), (1, "def", 1)]


def test_sentence_split_multi_terminator_runs(spark):
    from pdfplumber_rs_spark.functions.text import sentence_split

    (r0, r1) = sorted(
        sentence_split(spark.createDataFrame(
            [(1, "Wow!! Really?!  Yes.")], "doc_id long, text string")
        ).collect(), key=lambda r: r.sent_id)[:2]
    assert r0.sentence == "Wow!!" and r1.sentence == "Really?!"


# ---------------------------------------------------------------------------
# webclean.surt_key


def test_surt_key(spark):
    from pyspark.sql import functions as F

    from pdfplumber_rs_spark.functions.webclean import surt_key

    cases = [
        ("https://WWW.News.Example.co.uk:8080/World/s1/?id=2",
         "uk,co,example,news)/world/s1"),
        ("http://example.com/", "com,example)"),
        ("example.com/a/b#frag", "com,example)/a/b"),
        ("https://www.example.com", "com,example)"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r.s for r in df.select(surt_key(F.col("url")).alias("s")).collect()]
    assert got == [e for _, e in cases]


# ---------------------------------------------------------------------------
# webclean.html_tables


def test_html_tables_parses_noisy_markup(spark):
    from pdfplumber_rs_spark.functions.webclean import html_tables

    page = b"""<html><body><p>x</p>
    <table class="data">
      <tr><th> A </th><th><b>B</b></th></tr>
      <tr class="odd">
        <td>1</td>
        <td> 2 </td>
      </tr>
    </table>
    <p>mid</p>
    <table><tr><td>only</td></tr></table>
    </body></html>"""
    df = spark.createDataFrame([(1, page)], "doc_id long, html binary")
    cells = {(r.table_id, r.row, r.col): r.cell
             for r in html_tables(df).collect()}
    assert cells == {
        (0, 0, 0): "A", (0, 0, 1): "B",
        (0, 1, 0): "1", (0, 1, 1): "2",
        (1, 0, 0): "only",
    }


def test_html_table_corpus_matches_closed_form(spark):
    from pdfplumber_rs_spark.functions.webclean import html_tables
    from pdfplumber_rs_spark.sources.corpus import html_table_corpus_table

    pages = html_table_corpus_table(spark, "/root/testdata/sf0.001").limit(0)
    # schema only (full parity is the driver oracle's job)
    assert [f.name for f in pages.schema.fields] == ["doc_id", "url", "html"]

    pages = html_table_corpus_table(spark, "/root/testdata/sf0.001") \
        .filter("doc_id in (0, 1, 5)")
    got = {(r.doc_id, r.table_id, r.row, r.col): r.cell
           for r in html_tables(pages).collect()}
    # doc 0: 2 tables (0%5==0); table 0 is 2x2, table 1 is 3x3 wait —
    # R = 2+(0+1)%3 = 3, C = 2+(0+1)%2 = 3
    assert got[(0, 0, 0, 0)] == "t0r0c0d0"
    assert got[(0, 1, 2, 2)] == "t1r2c2d0"
    assert (0, 1, 2, 3) not in got
    # doc 1: 1 table, R=2+1%3=3, C=2+1%2=3
    assert got[(1, 0, 2, 2)] == "t0r2c2d1"
    # doc 5: 2 tables (5%5==0), table 0: R=2+5%3=4, C=2+5%2=3
    assert got[(5, 0, 3, 2)] == "t0r3c2d5"


# ---------------------------------------------------------------------------
# semdedup mega-cell guard (VERDICT r4 "What's wrong" #3): a skewed
# corpus — ≥80% of vectors piled near ONE centroid — must be caught
# BEFORE the quadratic in-cell self-join, not discovered in a blown-up
# shuffle at 10^12 rows.


def _skewed_corpus(spark, n=500, mega_frac=0.8):
    """n vectors in 3d; mega_frac of them clones of [1,0,0] (tiny
    deterministic jitter in a cosine-irrelevant dimension keeps them
    one near-dup family), the rest spread across distinct directions.
    With n_cells=8 first-id seeding, all clones land in one cell."""
    rows = []
    n_mega = int(n * mega_frac)
    for i in range(n):
        if i < n_mega:
            rows.append((i, [1.0, 0.0, (i % 7) * 1e-4]))
        else:
            a = (i - n_mega) % 97
            rows.append((i, [float(a % 10) - 5.0 or 1.0,
                             float(a % 13) - 6.0,
                             float(a % 5) + 1.0]))
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>")


def test_semdedup_cell_stats_exposes_planted_mega_cell(spark):
    from pdfplumber_rs_spark.functions.similarity import (
        semdedup_cell_stats)

    df = _skewed_corpus(spark, n=500, mega_frac=0.8)
    stats = {r.cell: r for r in
             semdedup_cell_stats(df).collect()}
    top = max(stats.values(), key=lambda r: r.n_rows)
    # the planted pile-up is visible: one cell holds ≥80% of the corpus
    # and its forecast pair count is quadratic in that pile
    assert top.n_rows >= 400
    assert top.n_pairs == top.n_rows * (top.n_rows - 1) // 2
    assert top.n_pairs >= 400 * 399 // 2


def test_semdedup_mega_cell_guard_errors_before_quadratic_join(spark):
    from pdfplumber_rs_spark.functions.similarity import semdedup

    df = _skewed_corpus(spark, n=500, mega_frac=0.8)
    with pytest.raises(ValueError, match="max_cell_rows=100"):
        semdedup(df, n_cells=8, max_cell_rows=100)


def test_semdedup_mega_cell_skip_bounds_pair_fanout(spark):
    from pdfplumber_rs_spark.functions.similarity import semdedup

    df = _skewed_corpus(spark, n=500, mega_frac=0.8)
    with pytest.warns(UserWarning, match="NOT deduped"):
        out = semdedup(df, n_cells=8, threshold=0.95,
                       max_cell_rows=100, on_mega_cell="skip")
        dropped = out.collect()
    # every mega-cell member survived the skip (under-dedup, documented);
    # nothing from the planted near-dup family appears in the drop list
    assert all(r.vec_id >= 400 for r in dropped)
    # and the surviving in-cell pair fan-out is bounded by the cap:
    # no remaining cell can exceed 100·99/2 pairs
    from pdfplumber_rs_spark.functions.similarity import (
        semdedup_cell_stats)
    stats = semdedup_cell_stats(df).collect()
    small = [r for r in stats if r.n_rows <= 100]
    assert all(r.n_pairs <= 100 * 99 // 2 for r in small)


def test_semdedup_auto_n_cells_tracks_corpus_size(spark):
    from pdfplumber_rs_spark.functions.similarity import (
        _semdedup_assign)

    df = spark.createDataFrame(
        [(i, [float(i % 11), float(i % 7), 1.0]) for i in range(240)],
        "vec_id long, embedding array<float>")
    # target 50/cell on a 240-row corpus → ceil = 5 cells
    _, k = _semdedup_assign(df, None, 50)
    assert k == 5
    # floor of 2 even for a tiny corpus
    _, k = _semdedup_assign(df.limit(3), None, 10_000)
    assert k == 2


def test_semdedup_guard_off_matches_default_path(spark):
    """max_cell_rows=None (the oracle path) is byte-identical to the
    pre-guard semantics; a generous cap changes nothing either."""
    from pdfplumber_rs_spark.functions.similarity import semdedup

    df = _skewed_corpus(spark, n=60, mega_frac=0.5)
    base = sorted((r.vec_id, r.cell, r.keep_id) for r in
                  semdedup(df, n_cells=8, threshold=0.95).collect())
    capped = sorted((r.vec_id, r.cell, r.keep_id) for r in
                    semdedup(df, n_cells=8, threshold=0.95,
                             max_cell_rows=10_000).collect())
    assert base == capped and len(base) > 0
