"""Round-5a operators: C4 badwords gate, candidate→verify minhash
pairs, overlapping sliding-window chunking."""

import hashlib


# ---------------------------------------------------------------------------
# text.badwords_filter


def test_badwords_filter_token_granular(spark):
    from pdfplumber_rs_spark.functions.text import badwords_filter

    rows = [
        (1, "a clean classy document"),   # 'ass' inside words ≠ match
        (2, "this one says ass twice ass"),
        (3, "Damn, capitals match too"),
        (4, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in
           badwords_filter(df, ("ass", "damn")).collect()}
    assert out[1].kept and out[1].n_bad_tokens == 0
    assert out[1].first_bad is None
    assert not out[2].kept and out[2].n_bad_tokens == 2
    assert out[2].first_bad == "ass"
    assert not out[3].kept and out[3].first_bad == "damn"  # case-folded
    assert out[4].kept


def test_badwords_filter_empty_blocklist_keeps_all(spark):
    from pdfplumber_rs_spark.functions.text import badwords_filter

    df = spark.createDataFrame([(1, "anything")], "doc_id long, text string")
    (r,) = badwords_filter(df, ()).collect()
    assert r.kept and r.n_bad_tokens == 0


# ---------------------------------------------------------------------------
# dedup.minhash_verified_pairs


def test_minhash_verified_pairs_filters_false_positives(spark):
    from pdfplumber_rs_spark.functions.dedup import (
        minhash_lsh_candidates, minhash_verified_pairs)

    # two exact near-dups + one distinct doc; tiny signature (2 minima,
    # band_size 1) makes LSH collide aggressively so candidates include
    # false positives that verification must reject
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "completely unrelated text about spark shuffles the"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cands = {(r.id_a, r.id_b) for r in minhash_lsh_candidates(
        df, num_hashes=2, band_size=1).collect()}
    verified = {(r.id_a, r.id_b): r.jaccard_sim
                for r in minhash_verified_pairs(
                    df, num_hashes=2, band_size=1).collect()}
    assert (1, 2) in verified
    # exact Jaccard of docs 1/2 over DISTINCT token sets: each set has
    # 8 tokens ('the' dedups), |∩|=7, |∪|=9 -> 0.777778
    assert abs(verified[(1, 2)] - 0.777778) < 1e-6
    # every verified pair was a candidate, and every verified pair
    # genuinely clears the exact-Jaccard threshold
    assert set(verified) <= cands
    assert all(v >= 0.5 for v in verified.values())
    assert (1, 3) not in verified and (2, 3) not in verified


# ---------------------------------------------------------------------------
# sampling.sliding_chunks


def test_sliding_chunks_shapes(spark):
    from pdfplumber_rs_spark.functions.sampling import sliding_chunks

    text = " ".join(f"w{i}" for i in range(10))  # 10 tokens
    df = spark.createDataFrame([(1, text), (2, ""), (3, "solo")],
                               "doc_id long, text string")
    out = sliding_chunks(df, chunk_size=4, stride=3).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    # doc 1: starts 0,3,6,9 -> sizes 4,4,4,1
    c1 = sorted(by_doc[1], key=lambda r: r.chunk_id)
    assert [(r.start, r.n_tokens) for r in c1] == [
        (0, 4), (3, 4), (6, 4), (9, 1)]
    # chunk hashing matches a locally computed md5 of the joined slice
    toks = text.split()
    want = hashlib.md5(" ".join(toks[3:7]).encode()).hexdigest()
    assert c1[1].chunk_md5 == want
    # empty docs emit nothing; single-token docs emit one chunk
    assert 2 not in by_doc
    assert [(r.start, r.n_tokens) for r in by_doc[3]] == [(0, 1)]


def test_sliding_chunks_cover_every_token(spark):
    from pdfplumber_rs_spark.functions.sampling import sliding_chunks

    # stride < chunk_size guarantees overlap-coverage of all tokens
    df = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(257)))],
        "doc_id long, text string")
    rows = sorted(sliding_chunks(df, chunk_size=64, stride=48).collect(),
                  key=lambda r: r.chunk_id)
    covered = set()
    for r in rows:
        covered.update(range(r.start, r.start + r.n_tokens))
    assert covered == set(range(257))
    # consecutive chunks overlap by chunk_size - stride = 16
    for a, b in zip(rows, rows[1:]):
        assert b.start - a.start == 48


# ---------------------------------------------------------------------------
# dedup.quality_dedup


def test_quality_dedup_keeps_best_scoring(spark):
    from pdfplumber_rs_spark.functions.dedup import quality_dedup

    # three near-identical docs, different scores; doc 7 (highest
    # score) must win even though doc 2 has the smallest id; the
    # unrelated doc 9 survives untouched
    base = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (2, base, 10.0),
        (5, base, 30.0),
        (7, base, 90.0),
        (9, "totally different content about parquet row groups", 1.0),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, q double")
    dropped = {r.doc_id: r.keep_id
               for r in quality_dedup(df, "q").collect()}
    assert dropped == {2: 7, 5: 7}


def test_quality_dedup_tie_breaks_to_smaller_id(spark):
    from pdfplumber_rs_spark.functions.dedup import quality_dedup

    base = "one two three four five six seven eight"
    df = spark.createDataFrame(
        [(3, base, 5.0), (8, base, 5.0)],
        "doc_id long, text string, q double")
    dropped = {r.doc_id: r.keep_id
               for r in quality_dedup(df, "q").collect()}
    assert dropped == {8: 3}


# ---------------------------------------------------------------------------
# webclean.host_boilerplate_strip


def test_host_boilerplate_strip_newline_mode(spark):
    from pdfplumber_rs_spark.functions.webclean import (
        host_boilerplate_strip)

    rows = [
        ("a.com", 1, "unique one\nshared footer"),
        ("a.com", 2, "unique two\nshared footer"),
        ("a.com", 3, "unique three\nshared footer"),
        ("b.com", 4, "shared footer\nother host keeps it"),
        ("b.com", 5, ""),
    ]
    df = spark.createDataFrame(rows, "host string, doc_id long, text string")
    out = {r.doc_id: r for r in
           host_boilerplate_strip(df, max_ratio=0.5).collect()}
    # 'shared footer' is in 3/3 of a.com docs -> stripped there only
    assert out[1].kept_text == "unique one"
    assert out[2].kept_text == "unique two"
    assert (out[1].n_lines, out[1].n_kept) == (2, 1)
    # b.com has it in 1/2 docs (< min_docs) -> untouched
    assert out[4].kept_text == "shared footer\nother host keeps it"
    # empty doc emits a row with zero lines
    assert (out[5].n_lines, out[5].n_kept, out[5].kept_text) == (0, 0, "")


def test_host_boilerplate_strip_ratio_gate(spark):
    from pdfplumber_rs_spark.functions.webclean import (
        host_boilerplate_strip)

    # the line repeats in 2 of 5 docs = 40% < 50% ratio -> kept
    rows = [("h", i, "promo line" if i < 2 else f"body {i}")
            for i in range(5)]
    df = spark.createDataFrame(rows, "host string, doc_id long, text string")
    out = {r.doc_id: r for r in
           host_boilerplate_strip(df, max_ratio=0.5).collect()}
    assert all(r.n_kept == 1 for r in out.values())
    # at ratio 0.3 the 40% line IS boilerplate
    out2 = {r.doc_id: r for r in
            host_boilerplate_strip(df, max_ratio=0.3).collect()}
    assert out2[0].kept_text == "" and out2[1].kept_text == ""
    assert out2[4].kept_text == "body 4"


def test_host_boilerplate_strip_token_lines(spark):
    from pdfplumber_rs_spark.functions.webclean import (
        host_boilerplate_strip)

    # token mode: 3-token lines; the shared opening 3 tokens strip
    rows = [("h", 1, "nav home about unique words here"),
            ("h", 2, "nav home about other body text")]
    df = spark.createDataFrame(rows, "host string, doc_id long, text string")
    out = {r.doc_id: r for r in
           host_boilerplate_strip(df, max_ratio=0.5, line_tokens=3).collect()}
    assert out[1].kept_text == "unique words here"
    assert out[2].kept_text == "other body text"
    assert out[1].n_lines == 2 and out[1].n_kept == 1


# ---------------------------------------------------------------------------
# sampling.mixture_plan


def test_mixture_plan_targets_and_epochs(spark):
    from pdfplumber_rs_spark.functions.sampling import mixture_plan

    rows = [("web", "a b c d"), ("web", "e f"),      # 6 tokens
            ("code", "x y"),                          # 2 tokens
            ("books", "p q r s")]                     # 4 tokens, weight 0
    df = spark.createDataFrame(rows, "source string, text string")
    out = {r.source: r for r in
           mixture_plan(df, {"web": 3.0, "code": 1.0},
                        budget_tokens=100).collect()}
    assert out["web"].n_docs == 2 and out["web"].n_tokens == 6
    assert out["web"].weight == 0.75 and out["web"].target_tokens == 75
    assert out["web"].epochs == 12.5          # 75 / 6
    assert out["code"].target_tokens == 25 and out["code"].epochs == 12.5
    # unweighted source stays visible with zero targets
    assert out["books"].weight == 0.0
    assert out["books"].target_tokens == 0 and out["books"].epochs == 0.0


# ---------------------------------------------------------------------------
# sampling.epoch_shuffle


def test_epoch_shuffle_deterministic_and_complete(spark):
    from pdfplumber_rs_spark.functions.sampling import epoch_shuffle

    df = spark.createDataFrame([(i,) for i in range(64)], "doc_id long")
    a = epoch_shuffle(df, epoch=1, n_shards=4).collect()
    b = epoch_shuffle(df, epoch=1, n_shards=4).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # reproducible
    assert {r.doc_id for r in a} == set(range(64))         # a permutation
    by_shard = {}
    for r in a:
        by_shard.setdefault(r.shard, []).append(r)
    assert set(by_shard) <= set(range(4))
    for rows in by_shard.values():
        rows.sort(key=lambda r: r.pos)
        # positions are 1..n dense and follow order_key order
        assert [r.pos for r in rows] == list(range(1, len(rows) + 1))
        assert [r.order_key for r in rows] == sorted(
            r.order_key for r in rows)


def test_epoch_shuffle_epochs_differ(spark):
    from pdfplumber_rs_spark.functions.sampling import epoch_shuffle

    df = spark.createDataFrame([(i,) for i in range(32)], "doc_id long")
    e0 = {r.doc_id: (r.shard, r.pos)
          for r in epoch_shuffle(df, epoch=0, n_shards=4).collect()}
    e1 = {r.doc_id: (r.shard, r.pos)
          for r in epoch_shuffle(df, epoch=1, n_shards=4).collect()}
    assert e0 != e1  # the salt reshuffles the order


# ---------------------------------------------------------------------------
# webclean.decontaminate


def test_decontaminate_scrubs_benchmark_spans(spark):
    from pdfplumber_rs_spark.functions.webclean import decontaminate

    bench = spark.createDataFrame(
        [(100, "what is the capital of france")],
        "doc_id long, text string")
    docs = spark.createDataFrame([
        # embeds the benchmark 5-gram mid-document
        (1, "intro words what is the capital of france trailing text"),
        (2, "no overlap with any benchmark question at all here"),
        (3, ""),
    ], "doc_id long, text string")
    out = {r.doc_id: r for r in
           decontaminate(docs, bench, n=5).collect()}
    # doc 1: 10 tokens; grams at pos 2..3 match ("what...of",
    # "is...france") -> cover = positions 2..7 (6 tokens removed)
    assert (out[1].n_tokens, out[1].n_removed, out[1].n_kept) == (10, 6, 4)
    import hashlib
    assert out[1].clean_md5 == hashlib.md5(
        b"intro words trailing text").hexdigest()
    # untouched doc keeps everything
    assert out[2].n_removed == 0 and out[2].n_kept == out[2].n_tokens
    # empty doc still emits a row
    assert (out[3].n_tokens, out[3].n_kept) == (0, 0)


def test_decontaminate_short_docs_and_benchmark_noop(spark):
    from pdfplumber_rs_spark.functions.webclean import decontaminate

    # docs shorter than n can never match; empty benchmark scrubs nothing
    docs = spark.createDataFrame(
        [(1, "one two three"), (2, "alpha beta")],
        "doc_id long, text string")
    bench = spark.createDataFrame(
        [(9, "one two")], "doc_id long, text string")
    out = decontaminate(docs, bench, n=5).collect()
    assert all(r.n_removed == 0 for r in out)


# ---------------------------------------------------------------------------
# maintenance.compaction_plan


def test_compaction_plan_streaming_fill(spark):
    from pdfplumber_rs_spark.functions.maintenance import compaction_plan

    rows = [("p1", "a", 600), ("p1", "b", 500), ("p1", "c", 400),
            ("p1", "d", 100), ("p2", "e", 50)]
    df = spark.createDataFrame(rows, "part string, path string, bytes long")
    out = {(r.part, r.path): r
           for r in compaction_plan(df, target_bytes=1000).collect()}
    # p1 fill order (bytes desc): a(600) b(500) c(400) d(100)
    # pre-fill cumsums: 0, 600, 1100, 1500 -> grps 0, 0, 1, 1
    assert out[("p1", "a")].grp == 0 and out[("p1", "b")].grp == 0
    assert out[("p1", "c")].grp == 1 and out[("p1", "d")].grp == 1
    assert out[("p1", "a")].grp_bytes == 1100
    assert out[("p1", "c")].grp_bytes == 500
    # partitions never mix
    assert out[("p2", "e")].grp == 0 and out[("p2", "e")].grp_bytes == 50


def test_compaction_plan_oversized_file_alone(spark):
    from pdfplumber_rs_spark.functions.maintenance import compaction_plan

    df = spark.createDataFrame(
        [("p", "big", 2500), ("p", "s1", 10), ("p", "s2", 10)],
        "part string, path string, bytes long")
    out = {r.path: r for r in
           compaction_plan(df, target_bytes=1000).collect()}
    # the oversized file is alone in grp 0; small files start after
    # the skipped boundary ids (pre-fill cumsum 2500 -> grp 2)
    assert out["big"].grp == 0 and out["big"].grp_bytes == 2500
    assert out["s1"].grp == 2 and out["s2"].grp == 2
    assert out["s1"].grp_bytes == 20


# ---------------------------------------------------------------------------
# maintenance.partition_skew


def test_partition_skew_factor(spark):
    from pdfplumber_rs_spark.functions.maintenance import partition_skew

    # key 'hot' holds 6 of 8 rows -> max/mean = 6 / (8/3) = 2.25
    rows = ([("hot",)] * 6) + [("a",), ("b",)]
    df = spark.createDataFrame(rows, "k string")
    out = {r.key: r for r in partition_skew(df, "k").collect()}
    assert out["hot"].rows == 6 and out["hot"].row_share == 0.75
    assert out["hot"].skew_factor == 2.25
    # the factor is corpus-level: identical on every row
    assert {r.skew_factor for r in out.values()} == {2.25}


def test_partition_skew_weighted(spark):
    from pdfplumber_rs_spark.functions.maintenance import partition_skew

    from pyspark.sql import functions as F
    rows = [("a", 10.0), ("a", 10.0), ("b", 1.0), ("c", 1.0)]
    df = spark.createDataFrame(rows, "k string, w double")
    out = {r.key: r for r in
           partition_skew(df, "k", weight=F.col("w")).collect()}
    # weight sums: a=20, b=1, c=1 -> mean 22/3, max 20
    assert out["a"].weight_sum == 20.0
    assert abs(out["a"].skew_factor - 20 / (22 / 3)) < 1e-6


# ---------------------------------------------------------------------------
# review-pass regressions (round-5 code review)


def test_badwords_filter_null_text_kept(spark):
    from pdfplumber_rs_spark.functions.text import badwords_filter

    df = spark.createDataFrame([(1, None), (2, "spam here")],
                               "doc_id long, text string")
    out = {r.doc_id: r for r in badwords_filter(df, ("spam",)).collect()}
    # null text behaves as empty: kept, zero hits (not dropped via a
    # size(null) = -1 artifact)
    assert out[1].kept and out[1].n_bad_tokens == 0
    assert not out[2].kept


def test_badwords_filter_casefolds_and_rejects_bad_entries(spark):
    import pytest
    from pdfplumber_rs_spark.functions.text import badwords_filter

    df = spark.createDataFrame([(1, "SPAM spam Spam")],
                               "doc_id long, text string")
    (r,) = badwords_filter(df, ("Spam",)).collect()  # entry case-folds
    assert not r.kept and r.n_bad_tokens == 3
    with pytest.raises(ValueError, match="single alnum"):
        badwords_filter(df, ("hate-speech",))


def test_semdedup_rejects_unknown_mega_cell_mode(spark):
    import pytest
    from pdfplumber_rs_spark.functions.similarity import semdedup

    df = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(4)],
        "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="on_mega_cell"):
        semdedup(df, n_cells=2, max_cell_rows=10, on_mega_cell="raise")


# ---------------------------------------------------------------------------
# dedup.minhash_dedup_incremental


def test_incremental_dedup_prior_always_wins(spark):
    from pdfplumber_rs_spark.functions.dedup import (
        minhash_bands, minhash_dedup_incremental)

    base = "alpha beta gamma delta epsilon zeta eta theta"
    # prior corpus: doc 50 (note: HIGHER id than the new near-dup)
    prior = spark.createDataFrame([(50, base)],
                                  "doc_id long, text string")
    # new increment: 3 is a near-dup of the prior doc (must drop to 50
    # even though 3 < 50 — the published corpus is canonical); 7 and
    # 9 are new-only near-dups of each other (min-id rule: 7 keeps);
    # 11 is unique and survives
    new = spark.createDataFrame([
        (3, base),
        (7, "one two three four five six seven eight"),
        (9, "one two three four five six seven eight"),
        (11, "completely different content about arrow record batches"),
    ], "doc_id long, text string")
    pb = minhash_bands(prior, num_hashes=8, band_size=4)
    dropped = {r.doc_id: r.keep_id
               for r in minhash_dedup_incremental(
                   new, pb).collect()}
    assert dropped[3] == 50       # prior wins despite larger id
    assert dropped[9] == 7        # within-increment min-id rule
    assert 7 not in dropped and 11 not in dropped
    # prior documents are never re-deduped: output ids are new-only
    assert set(dropped) <= {3, 9}


def test_incremental_dedup_empty_prior_matches_batch(spark):
    from pdfplumber_rs_spark.functions.dedup import (
        minhash_bands, minhash_dedup, minhash_dedup_incremental)

    docs = spark.createDataFrame([
        (1, "red green blue yellow purple orange"),
        (2, "red green blue yellow purple orange"),
        (4, "unrelated text about shuffle partitions and joins"),
    ], "doc_id long, text string")
    empty_prior = minhash_bands(
        docs.filter("doc_id < 0"), num_hashes=8, band_size=4)
    inc = {(r.doc_id, r.keep_id) for r in minhash_dedup_incremental(
        docs, empty_prior).collect()}
    batch = {(r.doc_id, r.keep_id)
             for r in minhash_dedup(docs).collect()}
    assert inc == batch  # with no prior corpus it IS minhash_dedup


# ---------------------------------------------------------------------------
# kernel.htmlstrip.html_to_markdown / pipeline.html_markdown


def test_html_to_markdown_structures():
    from pdfplumber_rs_spark.kernel.htmlstrip import html_to_markdown

    html = ("<html><head><title>t</title><style>p{}</style></head><body>"
            "<nav><a href='/'>Home</a></nav>"
            "<h1>Title</h1><h3>Sub</h3>"
            "<p>Hello <b>bold</b> and <em>italic</em> text</p>"
            "<ul><li>one</li><li>two <a href='/x'>link</a></li></ul>"
            "<ol><li>first</li><li>second</li></ol>"
            "<blockquote>quoted words</blockquote>"
            "<pre>raw  spacing</pre>"
            "<table><tr><th>a</th><th>b</th></tr>"
            "<tr><td>1</td><td>2</td></tr></table>"
            "<footer>chrome</footer></body></html>")
    r = html_to_markdown(html)
    assert r["markdown"] == (
        "# Title\n\n### Sub\n\n"
        "Hello **bold** and *italic* text\n\n"
        "- one\n- two [link](/x)\n1. first\n2. second\n\n"
        "> quoted words\n\n"
        "```\nraw  spacing\n```\n\n"
        "| a | b |\n| --- | --- |\n| 1 | 2 |")
    # nav/footer/head chrome renders nothing
    assert "Home" not in r["markdown"] and "chrome" not in r["markdown"]


def test_html_to_markdown_nested_lists_and_leniency():
    from pdfplumber_rs_spark.kernel.htmlstrip import html_to_markdown

    r = html_to_markdown(
        "<ul><li>x<ul><li>nested</li></ul></li><li>y</li></ul>")
    assert r["markdown"] == "- x\n  - nested\n- y"
    # malformed / binary garbage is total, never raises
    assert html_to_markdown(b"\xff\xfe<p unclosed")["n_blocks"] >= 0
    assert html_to_markdown("")["markdown"] == ""
    # unclosed anchor still renders as a link
    r2 = html_to_markdown("<p>see <a href='/d'>docs")
    assert r2["markdown"] == "see [docs](/d)"


def test_html_markdown_pipeline_op(spark):
    from pdfplumber_rs_spark import pipeline as P

    df = spark.createDataFrame(
        [("u1", b"<h1>T</h1><p>body text</p>"), ("u2", None)],
        "url string, html binary")
    out = {r.url: r for r in P.html_markdown(df).collect()}
    assert out["u1"].markdown == "# T\n\nbody text"
    assert out["u1"].n_blocks == 2
    assert out["u2"].markdown == "" and out["u2"].n_blocks == 0


# ---------------------------------------------------------------------------
# text.segment_langs


def test_segment_langs_mixed_document(spark):
    from pdfplumber_rs_spark.functions.text import segment_langs

    rows = [
        # two English sentences + one German -> dominant en, mixed
        (1, "the fast join is here. der schnelle und der baum ist gut!"
            " the end is near."),
        (2, ""),                                   # no sentences
        (3, "no terminators just words the and is"),  # one segment
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in segment_langs(df).collect()}
    assert (out[1].n_segments, out[1].n_langs) == (3, 2)
    assert out[1].dominant_lang == "en" and out[1].mixed
    assert abs(out[1].dominant_frac - 0.666667) < 1e-6
    assert (out[2].n_segments, out[2].dominant_lang, out[2].mixed) == (
        0, "und", False)
    assert out[3].n_segments == 1 and not out[3].mixed


def test_segment_langs_dominance_tie_breaks_to_smaller_code(spark):
    from pdfplumber_rs_spark.functions.text import segment_langs

    # one English and one German sentence: 1-1 tie -> 'de' < 'en'
    df = spark.createDataFrame(
        [(1, "the fast join is here. der schnelle und der baum ist!")],
        "doc_id long, text string")
    (r,) = segment_langs(df).collect()
    assert r.n_segments == 2 and r.dominant_lang == "de"
    assert r.dominant_frac == 0.5 and r.mixed


# ---------------------------------------------------------------------------
# text.langid_confusion


def test_langid_confusion_cells_and_recall(spark):
    from pdfplumber_rs_spark.functions.text import langid_confusion

    rows = [
        ("en", "the fast join is here and the end is near"),
        ("en", "the quick result is in the table"),
        ("en", "der schnelle baum und der gute wald ist hier"),  # mislabeled
        ("de", "der schnelle baum und der wald ist gut"),
    ]
    df = spark.createDataFrame(rows, "lang string, text string")
    out = {(r.label, r.predicted): r
           for r in langid_confusion(df).collect()}
    assert out[("en", "en")].n_docs == 2
    assert out[("en", "de")].n_docs == 1        # the leak is visible
    assert out[("en", "en")].label_total == 3
    assert abs(out[("en", "en")].recall - 0.666667) < 1e-6
    assert out[("de", "de")].recall == 1.0
