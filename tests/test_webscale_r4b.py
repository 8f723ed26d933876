"""Unit tests for the round-4b web-pipeline operators: canonical-URL
dedup, corpus-level line dedup, domain-blocklist filtering, CCNet
perplexity bucketing, and anchor-text aggregation."""

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# canonical_url / url_dedup


def test_canonical_url_variants_collapse(spark):
    from pdfplumber_rs_spark.functions.webclean import canonical_url

    variants = [
        "https://WWW.Host00.example.com:443/Page/7?utm_source=x&b=2&a=1",
        "http://host00.example.com/Page/7?a=1&b=2#frag",
        "https://host00.example.com/Page/7/?b=2&a=1&gclid=abc",
        "host00.example.com/Page/7?a=1&b=2",
    ]
    df = spark.createDataFrame([(v,) for v in variants], "url string")
    got = {r[0] for r in
           df.select(canonical_url(F.col("url"))).collect()}
    assert got == {"host00.example.com/Page/7?a=1&b=2"}


def test_canonical_url_preserves_path_case_strips_port(spark):
    from pdfplumber_rs_spark.functions.webclean import canonical_url

    df = spark.createDataFrame(
        [("https://EXAMPLE.com:8080/CaseSensitive/Path?Z=1&ref=nav",)],
        "url string")
    (got,) = df.select(canonical_url(F.col("url"))).first()
    # :8080 is NOT a default port — kept; path case preserved; ref= gone
    assert got == "example.com:8080/CaseSensitive/Path?Z=1"


def test_canonical_url_no_query_no_path(spark):
    from pdfplumber_rs_spark.functions.webclean import canonical_url

    df = spark.createDataFrame(
        [("https://www.example.com/",), ("example.com",),
         ("https://example.com/?utm_campaign=only",)],
        "url string")
    got = [r[0] for r in
           df.select(canonical_url(F.col("url"))).collect()]
    assert got == ["example.com", "example.com", "example.com"]


def test_url_dedup_keep_first(spark):
    from pdfplumber_rs_spark.functions.webclean import url_dedup

    rows = [
        (10, "https://a.com/x?b=2&a=1"),
        (3, "http://www.a.com/x/?a=1&b=2&fbclid=zz"),
        (7, "https://b.com/y"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    got = {r["canon_url"]: (r["doc_id"], r["n_variants"])
           for r in url_dedup(df).collect()}
    assert got == {"a.com/x?a=1&b=2": (3, 2), "b.com/y": (7, 1)}


# ---------------------------------------------------------------------------
# line_dedup


def test_line_dedup_removes_later_occurrences(spark):
    from pdfplumber_rs_spark.functions.dedup import line_dedup

    shared = " ".join(f"tok{i}" for i in range(10))  # one full line
    rows = [
        (1, shared + " unique one two three four five six seven eight"),
        (2, shared),                   # exact duplicate of doc 1 line 0
        (3, "totally different words here that never repeat at all ok"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in
           line_dedup(df).collect()}
    assert got[1]["n_lines"] == 2 and got[1]["n_kept"] == 2
    assert got[2]["n_lines"] == 1 and got[2]["n_kept"] == 0
    assert got[2]["kept_text"] == ""
    assert got[3]["n_kept"] == 1


def test_line_dedup_empty_and_order(spark):
    from pdfplumber_rs_spark.functions.dedup import line_dedup

    rows = [(1, ""), (2, None),
            (3, " ".join(f"w{i}" for i in range(25)))]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in
           line_dedup(df).collect()}
    assert got[1]["n_lines"] == 0 and got[1]["kept_text"] == ""
    assert got[2]["n_lines"] == 0
    # 25 tokens -> lines of 10/10/5, reassembled in original order
    assert got[3]["n_lines"] == 3
    assert got[3]["kept_text"] == " ".join(f"w{i}" for i in range(25))


def test_line_dedup_first_occurrence_is_corpus_global(spark):
    from pdfplumber_rs_spark.functions.dedup import line_dedup

    line = " ".join(f"z{i}" for i in range(10))
    # same line in three docs: only the smallest doc_id keeps it
    df = spark.createDataFrame(
        [(5, line), (9, line), (2, line)], "doc_id long, text string")
    got = {r["doc_id"]: r["n_kept"] for r in
           line_dedup(df).collect()}
    assert got == {2: 1, 5: 0, 9: 0}


# ---------------------------------------------------------------------------
# blocklist_filter


def test_blocklist_subdomain_and_exact(spark):
    from pdfplumber_rs_spark.functions.webclean import blocklist_filter

    pages = spark.createDataFrame(
        [(1, "ads.example.net"), (2, "x.ads.example.net"),
         (3, "example.net"), (4, "notads.example.net"),
         (5, "deep.a.b.blocked.org")],
        "doc_id long, host string")
    bl = spark.createDataFrame(
        [("ads.example.net",), ("blocked.org",)], "entry string")
    got = {r["doc_id"]: (r["blocked"], r["blocked_by"])
           for r in blocklist_filter(pages, bl).collect()}
    assert got[1] == (True, "ads.example.net")
    assert got[2] == (True, "ads.example.net")
    assert got[3] == (False, None)
    assert got[4] == (False, None)  # suffix match is label-aligned
    assert got[5] == (True, "blocked.org")


def test_blocklist_longest_entry_wins(spark):
    from pdfplumber_rs_spark.functions.webclean import blocklist_filter

    pages = spark.createDataFrame(
        [(1, "x.ads.example.net")], "doc_id long, host string")
    bl = spark.createDataFrame(
        [("example.net",), ("ads.example.net",)], "entry string")
    (row,) = blocklist_filter(pages, bl).collect()
    assert row["blocked_by"] == "ads.example.net"


def test_host_suffixes_bounds(spark):
    from pdfplumber_rs_spark.functions.webclean import host_suffixes

    df = spark.createDataFrame(
        [("a.b.example.com",), ("example.com",), ("localhost",)],
        "host string")
    got = [r[0] for r in df.select(host_suffixes(F.col("host"))).collect()]
    assert got[0] == ["a.b.example.com", "b.example.com", "example.com"]
    assert got[1] == ["example.com"]
    assert got[2] == ["localhost"]  # single label: itself only


# ---------------------------------------------------------------------------
# ccnet_buckets


def test_ccnet_buckets_matches_ntile_window(spark):
    """The distributed two-phase rank must agree exactly with the
    naive ntile window it replaces."""
    import random

    from pdfplumber_rs_spark.functions.text import ccnet_buckets

    rng = random.Random(7)
    rows = [(i, ["en", "de", "fr"][i % 3], round(rng.uniform(1, 9), 6))
            for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, "
                                     "neg_logprob double")
    got = {r["doc_id"]: (r["lm_rank"], r["bucket"])
           for r in ccnet_buckets(df).collect()}
    w = Window.partitionBy("lang").orderBy("neg_logprob", "doc_id")
    naive = df.withColumn("r", F.row_number().over(w)).withColumn(
        "t", F.ntile(3).over(w))
    for r in naive.collect():
        want = {1: "head", 2: "middle", 3: "tail"}[r["t"]]
        assert got[r["doc_id"]] == (r["r"], want), r["doc_id"]


def test_ccnet_bucket_sizes(spark):
    from pdfplumber_rs_spark.functions.text import ccnet_buckets

    # 7 docs in one lang: ntile(3) sizes must be 3/2/2
    df = spark.createDataFrame(
        [(i, "en", float(i)) for i in range(7)],
        "doc_id long, lang string, neg_logprob double")
    buckets = [r["bucket"] for r in
               ccnet_buckets(df).orderBy("lm_rank").collect()]
    assert buckets == ["head"] * 3 + ["middle"] * 2 + ["tail"] * 2


# ---------------------------------------------------------------------------
# anchors


def test_kernel_anchor_extraction_nested_and_dropped():
    from pdfplumber_rs_spark.kernel.htmlstrip import extract_main_content

    page = ("<html><body>"
            "<nav><a href='https://x.com/a'>In Nav</a></nav>"
            "<p><a href='/rel'>Rel <b>bold</b> text</a></p>"
            "<a href='https://y.com/b'>trailing unclosed"
            "</body></html>")
    anchors = extract_main_content(page)["anchors"]
    d = dict(anchors)
    assert d["https://x.com/a"] == "In Nav"  # chrome anchors included
    assert d["/rel"] == "Rel bold text"
    assert d["https://y.com/b"] == "trailing unclosed"


def test_anchor_text_agg(spark):
    from pdfplumber_rs_spark.functions.graph import anchor_text_agg

    rows = [
        ("https://s1.com/p", "https://t.com/x", "Click Here"),
        ("https://s2.com/p", "https://t.com/x", "click here"),
        ("https://s1.com/q", "https://t.com/x", "Click Here"),
        ("https://s1.com/p", "/relative", "skip me"),
        ("https://s3.com/p", "https://u.com/y", ""),
    ]
    df = spark.createDataFrame(rows, "url string, href string, "
                                     "anchor string")
    got = {r["dst_url"]: r.asDict()
           for r in anchor_text_agg(df).collect()}
    assert set(got) == {"https://t.com/x", "https://u.com/y"}
    t = got["https://t.com/x"]
    assert t["n_sources"] == 3 and t["n_source_hosts"] == 2
    assert t["anchor_texts"] == "Click Here|click here"
    assert got["https://u.com/y"]["anchor_texts"] == ""  # empty filtered


def test_html_anchors_pipeline(spark, sf_dir):
    from pdfplumber_rs_spark import pipeline as P
    from pdfplumber_rs_spark.sources.corpus import html_page_corpus_table

    corpus = html_page_corpus_table(spark, sf_dir).limit(3)
    rows = P.html_anchors(corpus).collect()
    by_anchor = {}
    for r in rows:
        by_anchor.setdefault(r["anchor"], []).append(r["href"])
    assert "Partner" in by_anchor and "Mirror" in by_anchor
    assert all(h.startswith("https://host") for h in by_anchor["Partner"])
    assert "Home" in by_anchor  # nav chrome anchors included


# ---------------------------------------------------------------------------
# normalize_text / parse_sitemaps


def test_normalize_text_nfc_controls_whitespace(spark):
    from pdfplumber_rs_spark.functions.webclean import normalize_text

    rows = [
        (1, "Café and Ångstrom"),       # NFC composition
        (2, "bad\x00ctl\x07here"),                   # controls stripped
        (3, "  lots\t\tof   space  "),               # collapse + trim
        (4, None),                                   # null-safe
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r.asDict() for r in normalize_text(df).collect()}
    assert got[1]["text_norm"] == "Café and Ångstrom"
    assert got[1]["n_chars_raw"] == len("Café and Ångstrom")
    assert got[1]["n_chars_norm"] == len("Café and Ångstrom")
    assert got[2]["text_norm"] == "badctlhere"
    assert got[3]["text_norm"] == "lots of space"
    assert got[4]["text_norm"] == "" and got[4]["n_chars_raw"] == 0


def test_normalize_text_keeps_newlines(spark):
    from pdfplumber_rs_spark.functions.webclean import normalize_text

    df = spark.createDataFrame(
        [(1, "line one \nline  two")], "doc_id long, text string")
    (row,) = normalize_text(df).collect()
    # \n survives (it is NOT in CONTROL_RE or the space class)
    assert row["text_norm"] == "line one \nline two"


def test_parse_sitemaps_group_independent(spark):
    from pdfplumber_rs_spark.functions.webclean import parse_sitemaps

    txt = ("Sitemap: https://h.com/a.xml\n"
           "User-agent: bot-x\nDisallow: /\n"
           "Sitemap: https://h.com/b.xml\n"   # inside bot-x group
           "User-agent: *\nAllow: /\n"
           "# Sitemap: https://h.com/commented.xml\n"
           "sitemap: https://h.com/c.xml\n")  # case-insensitive key
    df = spark.createDataFrame([("h.com", txt)],
                               "host string, robots_txt string")
    rows = parse_sitemaps(df).orderBy("sm_rank").collect()
    assert [(r["sitemap_url"], r["sm_rank"]) for r in rows] == [
        ("https://h.com/a.xml", 1),
        ("https://h.com/b.xml", 2),
        ("https://h.com/c.xml", 3),
    ]


# ---------------------------------------------------------------------------
# hits / zipf_fit


def test_hits_star_graph(spark):
    """Star graph: every spoke links to the center — the center is the
    unique authority (1.0), spokes are equal hubs, the center's hub
    and spokes' authorities are 0 (no out-/in-edges)."""
    from pdfplumber_rs_spark.functions.graph import hits

    edges = spark.createDataFrame(
        [("s1", "c", 1), ("s2", "c", 1), ("s3", "c", 1)],
        "src_host string, dst_host string, n_links long")
    got = {r["host"]: (r["authority"], r["hub"])
           for r in hits(edges, n_iter=2).collect()}
    assert got["c"] == (1.0, 0.0)
    for s in ("s1", "s2", "s3"):
        assert got[s][0] == 0.0
        assert abs(got[s][1] - 1 / 3) < 1e-6


def test_hits_l1_normalized_and_weighted(spark):
    from pdfplumber_rs_spark.functions.graph import hits

    edges = spark.createDataFrame(
        [("a", "b", 3), ("a", "c", 1), ("d", "c", 2)],
        "src_host string, dst_host string, n_links long")
    rows = hits(edges, n_iter=2).collect()
    auth_sum = sum(r["authority"] for r in rows)
    hub_sum = sum(r["hub"] for r in rows)
    assert abs(auth_sum - 1.0) < 1e-5 and abs(hub_sum - 1.0) < 1e-5
    got = {r["host"]: r for r in rows}
    # b gets 3x the weight c gets from a; a is the stronger hub
    assert got["b"]["authority"] > got["c"]["authority"] * 0  # present
    assert got["a"]["hub"] > got["d"]["hub"]


def test_zipf_fit_matches_numpy(spark):
    import math

    from pdfplumber_rs_spark.functions.text import zipf_fit

    # deterministic corpus: token t_k appears 2^(8-k) times
    words = []
    for k in range(8):
        words += [f"t{k}"] * (2 ** (8 - k))
    df = spark.createDataFrame(
        [(1, " ".join(words))], "doc_id long, text string")
    (row,) = zipf_fit(df).collect()
    assert row["n_top"] == 8
    xs = [math.log(r) for r in range(1, 9)]
    ys = [math.log(2 ** (8 - k)) for k in range(8)]
    mx, my = sum(xs) / 8, sum(ys) / 8
    slope = (sum((x - mx) * (y - my) for x, y in zip(xs, ys))
             / sum((x - mx) ** 2 for x in xs))
    assert abs(row["zipf_slope"] - round(slope, 6)) < 1e-6
    assert row["zipf_slope"] < 0
