"""Round-4g operators: RSS feed parsing, URL frontier triage flags,
distributed Bloom seen-URL filter."""

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# webclean.parse_feeds


def test_parse_feeds_items_in_order(spark):
    from pdfplumber_rs_spark.functions.webclean import parse_feeds

    xml = b"""<?xml version="1.0"?><rss version="2.0"><channel>
    <title>Chan</title>
    <item><title>First</title><link>https://a.com/1</link></item>
    <item>
      <link>https://a.com/2</link>
      <title>Second</title>
    </item>
    <item><title>No link here</title></item>
    </channel></rss>"""
    df = spark.createDataFrame([("a.com", xml)], "host string, xml binary")
    rows = sorted(parse_feeds(df).collect(), key=lambda r: r.item_rank)
    assert [(r.item_rank, r.title, r.link) for r in rows] == [
        (1, "First", "https://a.com/1"),
        (2, "Second", "https://a.com/2"),
        (3, "No link here", None),
    ]
    # channel-level <title> must not leak into items
    assert all(r.title != "Chan" for r in rows)


def test_parse_feeds_empty_feed(spark):
    from pdfplumber_rs_spark.functions.webclean import parse_feeds

    df = spark.createDataFrame([("b.com", b"<rss></rss>")],
                               "host string, xml binary")
    assert parse_feeds(df).collect() == []


# ---------------------------------------------------------------------------
# webclean.url_classify


def test_url_classify_flags(spark):
    from pdfplumber_rs_spark.functions.webclean import url_classify

    cases = {
        "https://a.com/img/Logo.PNG": ("asset", 2),
        "https://a.com/files/paper.pdf": ("document", 2),
        "https://a.com/list?page=3": ("pagination", 1),
        "https://a.com/blog/page/7": ("pagination", 3),
        "https://a.com/a/b/c.html?q=1": ("query", 3),
        "https://a.com/": ("plain", 0),
    }
    df = spark.createDataFrame([(u,) for u in cases], "url string")
    flags = url_classify(F.col("url"))
    out = {r.url: r for r in df.select("url", *[
        v.alias(k) for k, v in flags.items()]).collect()}
    r = out["https://a.com/img/Logo.PNG"]
    assert r.is_asset and not r.is_document and r.path_depth == 2
    r = out["https://a.com/files/paper.pdf"]
    assert r.is_document and not r.is_asset
    assert out["https://a.com/list?page=3"].is_pagination
    assert out["https://a.com/blog/page/7"].is_pagination
    r = out["https://a.com/a/b/c.html?q=1"]
    assert r.has_query and not r.is_pagination and r.path_depth == 3
    r = out["https://a.com/"]
    assert not any([r.is_asset, r.is_document, r.has_query, r.is_pagination])
    assert r.path_depth == 0


# ---------------------------------------------------------------------------
# webclean.bloom_build / bloom_contains


def test_bloom_no_false_negatives(spark):
    from pdfplumber_rs_spark.functions.webclean import (bloom_build,
                                                        bloom_contains)

    seen = spark.createDataFrame(
        [(f"https://h.com/{i}",) for i in range(50)], "url string")
    bloom = bloom_build(seen)
    out = {r.key: r.maybe_seen
           for r in bloom_contains(bloom, seen).collect()}
    assert all(out.values()) and len(out) == 50


def test_bloom_mostly_rejects_unseen(spark):
    from pdfplumber_rs_spark.functions.webclean import (bloom_build,
                                                        bloom_contains)

    seen = spark.createDataFrame(
        [(f"https://h.com/{i}",) for i in range(50)], "url string")
    unseen = spark.createDataFrame(
        [(f"https://other.org/{i}",) for i in range(200)], "url string")
    bloom = bloom_build(seen)
    out = [r.maybe_seen for r in
           bloom_contains(bloom, unseen).collect()]
    # 50 keys in 2048 bits, k=3 → FP rate ~ (1-e^-150/2048)^3 ≈ 0.04%...
    # loosely: the vast majority must be rejected
    assert sum(out) < 20
