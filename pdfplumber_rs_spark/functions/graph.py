"""Host-level link-graph operators: edge aggregation and PageRank.

Scale notes (10^12 pages): the page→page link explosion is huge, but
host-level aggregation collapses it immediately (one shuffle keyed on
(src_host, dst_host) with map-side partial counts; host cardinality is
~10^8, not 10^12). PageRank then iterates over the HOST graph — each
iteration is one join + one aggregation, both keyed on hosts; ranks and
contributions are long-thin DataFrames, never collected to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .webclean import url_host


def host_link_graph(links: DataFrame) -> DataFrame:
    """(src_host, dst_host, n_links) from exploded page links; only
    absolute http(s) hrefs form cross-host edges."""
    e = links.select(
        url_host(F.col("url")).alias("src_host"),
        F.when(F.col("href").rlike("^https?://"),
               url_host(F.col("href"))).alias("dst_host"),
    ).filter(F.col("dst_host").isNotNull() & (F.col("dst_host") != ""))
    return e.groupBy("src_host", "dst_host").agg(
        F.count("*").alias("n_links"))


def pagerank(edges: DataFrame, n_iter: int = 5,
             tol: float | None = None) -> DataFrame:
    """Weighted PageRank over (src_host, dst_host, n_links) edges.

    Classic power iteration as DataFrame ops: out-weight per src once,
    then per iteration contributions = rank * w/out_w joined src-side
    and summed per dst; damping d = 0.85, teleport mass (1-d)/N.
    Nodes = union of srcs and dsts. Returns (host, rank).

    tol=None (the oracle path): exactly n_iter iterations —
    closed-form, SQL-twin-able. tol set: stop as soon as the max
    per-host rank delta drops below tol (one tiny max-abs aggregate on
    the host-level frame per iteration), with n_iter as the cap —
    converged graphs stop early instead of paying the full budget.

    Each iteration's ranks are localCheckpoint()ed (eager): the
    host-level rank frame is tiny (~10^8 rows at full crawl scale),
    and truncating the plan each round keeps iteration N's cost flat
    instead of replaying N join+agg layers — the in-memory stand-in
    for the between-stage Iceberg commits in SURVEY §4(d)."""
    nodes = (
        edges.select(F.col("src_host").alias("host"))
        .union(edges.select(F.col("dst_host").alias("host")))
        .distinct()
    )
    n = nodes.count()  # one small driver scalar (node count), not data
    out_w = edges.groupBy("src_host").agg(F.sum("n_links").alias("out_w"))
    # nodes and the normalized edge weights are referenced EVERY
    # iteration — persist them so each round pays its own join+agg,
    # not the whole upstream lineage again (Iceberg commit at depth)
    nodes = nodes.persist()
    w = edges.join(out_w, "src_host").select(
        "src_host", "dst_host",
        (F.col("n_links") / F.col("out_w")).alias("p")).persist()
    ranks = nodes.select("host", F.lit(1.0 / n).alias("rank"))
    for _ in range(n_iter):
        contrib = (
            w.join(ranks, w.src_host == ranks.host)
            .select(F.col("dst_host").alias("host"),
                    (F.col("rank") * F.col("p")).alias("c"))
            .groupBy("host").agg(F.sum("c").alias("in_mass"))
        )
        new_ranks = (
            nodes.join(contrib, "host", "left")
            .select(
                "host",
                (F.lit((1.0 - 0.85) / n)
                 + F.lit(0.85) * F.coalesce("in_mass", F.lit(0.0)))
                .alias("rank"),
            )
        ).localCheckpoint()
        if tol is not None:
            delta = (
                new_ranks.alias("a")
                .join(ranks.alias("b"), "host")
                .agg(F.max(F.abs(F.col("a.rank") - F.col("b.rank")))
                     .alias("d"))
                .first()["d"]
            )
            ranks = new_ranks
            if delta is not None and delta < tol:
                break
        else:
            ranks = new_ranks
    return ranks


def anchor_text_agg(anchors: DataFrame) -> DataFrame:
    """Anchor-text aggregation per link TARGET — the classic web-corpus
    enrichment (anchor text describes the destination better than the
    destination describes itself; used for retrieval indexing and as
    extra training text for link-heavy pages). From exploded
    (url, href, anchor) rows, keep absolute http(s) targets and
    aggregate per destination:

      (dst_url, n_sources, n_source_hosts, anchor_texts)

    anchor_texts = the DISTINCT non-empty anchor strings, sorted and
    '|'-joined (deterministic, SQL-twin-able).

    Scale (10^12 pages): ONE aggregation keyed on the destination URL
    (uniform — URL-string key), with map-side partial counts;
    collect_set is bounded per destination by distinct anchor
    wording, and a mega-target (everyone links home with the same
    text) still collapses map-side because the SET of texts is tiny
    even when the link count is 10^9."""
    e = anchors.select(
        url_host(F.col("url")).alias("src_host"),
        F.col("href").alias("dst_url"),
        F.col("anchor"),
    ).filter(F.col("dst_url").rlike("^https?://"))
    return e.groupBy("dst_url").agg(
        F.count("*").alias("n_sources"),
        F.count_distinct("src_host").alias("n_source_hosts"),
        F.array_join(
            F.array_sort(F.collect_set(
                F.when(F.col("anchor") != "", F.col("anchor")))),
            "|").alias("anchor_texts"),
    )


def hits(edges: DataFrame, n_iter: int = 2) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) over the weighted host
    link graph — the second iterative-centrality surface next to
    pagerank (crawl frontiers use authority for target prioritization
    and hub scores to find index/portal pages):

      a_i(v) = Σ_{u→v} w(u,v)·h_{i-1}(u), L1-normalized;
      h_i(u) = Σ_{u→v} w(u,v)·a_i(v),     L1-normalized.

    L1 (sum) normalization instead of Kleinberg's L2 keeps the SQL
    oracle exact (no sqrt of a sum under 6-dp rounding); relative
    ordering is identical. Hosts without in-edges get authority 0,
    without out-edges hub 0. Returns (host, authority, hub).

    Scale: same shape as pagerank — each half-iteration is ONE
    host-keyed join + ONE aggregation on the host-level frame; the
    normalizing mass is a 1-row broadcast crossJoin (whitelisted
    BNLJ), never a driver collect; per-iteration localCheckpoint
    truncates the plan at depth."""
    nodes = (
        edges.select(F.col("src_host").alias("host"))
        .union(edges.select(F.col("dst_host").alias("host")))
        .distinct()
        .persist()
    )
    e = edges.select("src_host", "dst_host",
                     F.col("n_links").cast("double").alias("w")).persist()
    hubs = nodes.select("host", F.lit(1.0).alias("h"))
    auths = nodes.select("host", F.lit(0.0).alias("a"))
    for _ in range(n_iter):
        a_raw = (
            e.join(hubs, e.src_host == hubs.host)
            .select(F.col("dst_host").alias("host"),
                    (F.col("w") * F.col("h")).alias("c"))
            .groupBy("host").agg(F.sum("c").alias("a_raw"))
        )
        a_mass = a_raw.agg(F.sum("a_raw").alias("am"))
        auths = (
            nodes.join(a_raw, "host", "left")
            .crossJoin(F.broadcast(a_mass))
            .select("host",
                    (F.coalesce("a_raw", F.lit(0.0)) / F.col("am"))
                    .alias("a"))
        ).localCheckpoint()
        h_raw = (
            e.join(auths, e.dst_host == auths.host)
            .select(F.col("src_host").alias("host"),
                    (F.col("w") * F.col("a")).alias("c"))
            .groupBy("host").agg(F.sum("c").alias("h_raw"))
        )
        h_mass = h_raw.agg(F.sum("h_raw").alias("hm"))
        hubs = (
            nodes.join(h_raw, "host", "left")
            .crossJoin(F.broadcast(h_mass))
            .select("host",
                    (F.coalesce("h_raw", F.lit(0.0)) / F.col("hm"))
                    .alias("h"))
        ).localCheckpoint()
    return (
        auths.join(hubs, "host")
        .select("host", F.round("a", 6).alias("authority"),
                F.round("h", 6).alias("hub"))
    )
