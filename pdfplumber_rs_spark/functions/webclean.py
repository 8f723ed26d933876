"""Web-corpus cleaning operators for a training-data pipeline: PII
detection/redaction, benchmark-contamination checks, and URL/host
normalization. Pure Column expressions / native joins — JVM-side,
whole-stage-codegen friendly, and every regex is written in the common
Java-regex ∩ RE2 dialect (no lookarounds) so the DuckDB oracle runs the
IDENTICAL pattern.

Scale notes (100 TB):
- PII redaction is a per-row map — no shuffle, pipelined into the scan.
- Contamination is explode(n-grams) → broadcast semi-join against the
  benchmark-gram set (benchmarks are small — MMLU/GSM8K-class suites
  are <10^6 grams), then a map-side-combinable count per doc. No
  all-pairs, no skew: the join key is a hash of the gram.
- Host stats shuffle once on the normalized host (bounded cardinality).
"""

from __future__ import annotations

import re
import unicodedata

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (DoubleType, IntegerType, LongType, StringType,
                               StructField, StructType)

from ..pipeline import map_rows
from .text import word_tokens

# Shared Java/RE2 patterns (also inlined in the DuckDB oracle SQL)
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}"
IPV4_RE = r"([0-9]{1,3}\.){3}[0-9]{1,3}"


def pii_counts(text: Column) -> dict[str, Column]:
    """Match counts per PII class — the triage signal that decides
    whether a document needs the (more expensive) redaction map."""
    t = F.coalesce(text, F.lit(""))
    return {
        "n_emails": F.size(F.regexp_extract_all(t, F.lit(EMAIL_RE), F.lit(0))),
        "n_phones": F.size(F.regexp_extract_all(t, F.lit(PHONE_RE), F.lit(0))),
        "n_ipv4": F.size(F.regexp_extract_all(t, F.lit(IPV4_RE), F.lit(0))),
    }


def redact_pii(text: Column) -> Column:
    """Replace PII spans with typed placeholders. Order matters: emails
    first (an email contains no phone/ip match by construction of the
    patterns), then phones, then IPv4."""
    t = F.coalesce(text, F.lit(""))
    t = F.regexp_replace(t, EMAIL_RE, "<EMAIL>")
    t = F.regexp_replace(t, PHONE_RE, "<PHONE>")
    t = F.regexp_replace(t, IPV4_RE, "<IP>")
    return t


def word_ngrams(text: Column, n: int) -> Column:
    """Array of space-joined word n-grams over lowercase alnum tokens.

    Documents with fewer than n tokens yield an EMPTY array: Spark's
    sequence(0, size-n) auto-steps DOWN when size-n < 0 (producing
    [0, -1]) and F.slice then throws INVALID_PARAMETER_VALUE.START, so
    the index sequence must be guarded, not clamped."""
    toks = word_tokens(text)

    # bind the token array to a lambda VARIABLE before indexing it:
    # higher-order functions are interpreted, so a raw `toks`
    # referenced inside the transform lambda re-runs the whole
    # split+filter once PER POSITION (O(tokens²) per document —
    # measured 0.4 ms per gram on 300-char docs, round 6); wrapping in
    # a 1-element array and transforming binds `t` once per row and
    # every inner reference is a cheap variable read. Values identical.
    def _grams(t: Column) -> Column:
        idx = F.when(
            F.size(t) >= n, F.sequence(F.lit(0), F.size(t) - n)
        ).otherwise(F.array().cast("array<int>"))
        return F.transform(
            idx,
            lambda i: F.array_join(F.slice(t, i + 1, n), " "),
        )

    return F.element_at(F.transform(F.array(toks), _grams), 1)


def contamination(docs: DataFrame, benchmark: DataFrame,
                  n: int = 5) -> DataFrame:
    """Benchmark-contamination check: for each candidate document, how
    many distinct word n-grams it shares with a benchmark suite.

    Spark-first plan: explode n-grams on both sides, broadcast the
    (small) benchmark gram set, equi-join on the gram, count distinct
    hits per doc. Returns (doc_id, n_hits) for contaminated docs only.
    At 10^12-doc scale the candidate side streams; the benchmark side
    is a broadcast hash table."""
    bench_grams = (
        benchmark.select(
            F.explode(word_ngrams(F.col("text"), n)).alias("gram"))
        .distinct()
    )
    doc_grams = docs.select(
        F.col("doc_id"),
        F.explode(word_ngrams(F.col("text"), n)).alias("gram"),
    ).distinct()
    return (
        doc_grams.join(F.broadcast(bench_grams), "gram")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
    )


def decontaminate(docs: DataFrame, benchmark: DataFrame,
                  n: int = 5) -> DataFrame:
    """Span-level benchmark decontamination — the removal half of
    `contamination` (GPT-3 appendix C / PaLM §7: training text that
    overlaps an eval benchmark is scrubbed, not just flagged, so the
    benchmark stays meaningful). Every token covered by an n-gram that
    also occurs in the benchmark suite is dropped; the surviving
    tokens reassemble in order. Coverage uses the same islands
    semantics as dedup.remove_duplicate_spans: a token at position t
    is contaminated iff some matching n-gram starts in (t−n, t].

    Returns (doc_id, n_tokens, n_kept, n_removed, clean_md5) — md5 of
    the space-joined surviving tokens, one row per input document.

    Scale (10^12 docs × a benchmark suite): the benchmark gram set is
    SMALL (MMLU/GSM8K-class suites are <10^6 grams) and broadcasts —
    the doc gram stream left_semi-joins it map-side, so contaminated
    positions are found in the scan pass with NO corpus-keyed gram
    shuffle at all (cheaper than remove_duplicate_spans, whose dup set
    is corpus-sized). Everything after is doc_id-keyed: k-bounded
    cover explode, distinct, token anti-join, bounded per-doc
    reassembly."""
    toks = word_tokens(F.coalesce(F.col("text"), F.lit("")))
    d = docs.select(F.col("doc_id"), toks.alias("toks"))
    positions = F.when(
        F.size("toks") >= n, F.sequence(F.lit(0), F.size("toks") - n)
    ).otherwise(F.array().cast("array<int>"))
    grams = d.select(
        "doc_id", F.posexplode(positions).alias("idx", "pos"), "toks",
    ).select(
        "doc_id", "pos",
        F.md5(F.array_join(F.expr(f"slice(toks, pos + 1, {n})"),
                           "\x01")).alias("g"),
    )
    bench = (
        benchmark.select(toks.alias("toks"))
        .select(F.posexplode(positions).alias("idx", "pos"), "toks")
        .select(F.md5(F.array_join(
            F.expr(f"slice(toks, pos + 1, {n})"), "\x01")).alias("g"))
        .distinct()
    )
    cover = (
        grams.join(F.broadcast(bench), "g", "left_semi")
        .select("doc_id",
                F.explode(F.sequence(F.col("pos"),
                                     F.col("pos") + n - 1)).alias("tpos"))
        .distinct()
    )
    tokens = d.select(
        "doc_id", F.posexplode("toks").alias("tpos", "tok"))
    kept = tokens.join(cover, ["doc_id", "tpos"], "left_anti")
    kept_agg = (
        kept.groupBy("doc_id")
        .agg(F.count("*").alias("n_kept"),
             F.array_join(
                 F.transform(
                     F.array_sort(F.collect_list(
                         F.struct("tpos", "tok"))),
                     lambda s: s["tok"]),
                 " ").alias("clean"))
    )
    return (
        d.select("doc_id", F.size("toks").alias("n_tokens"))
        .join(kept_agg, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            (F.col("n_tokens") - F.coalesce("n_kept", F.lit(0)))
            .cast("long").alias("n_removed"),
            F.md5(F.coalesce("clean", F.lit(""))).alias("clean_md5"),
        )
    )


def normalize_url(url: Column) -> Column:
    """Canonical URL for dedup keys: lowercase, scheme and www.
    stripped, query string and fragment dropped, trailing slash
    trimmed."""
    u = F.lower(F.coalesce(url, F.lit("")))
    u = F.regexp_replace(u, r"^[a-z][a-z0-9+.-]*://", "")
    u = F.regexp_replace(u, r"^www\.", "")
    u = F.regexp_replace(u, r"[?#].*$", "")
    u = F.regexp_replace(u, r"/$", "")
    return u


def url_host(url: Column) -> Column:
    """Registrable host of a normalized URL (everything before the
    first '/')."""
    return F.regexp_extract(normalize_url(url), r"^([^/]+)", 1)


def _robots_rule_regex(val: str) -> str:
    """RFC 9309 §2.2.3 match pattern → anchored Java-regex string:
    `*` matches any character sequence, a TRAILING `$` anchors the end
    of the path (a `$` anywhere else is a literal, the behavior of the
    reference google/robotstxt matcher); every other character is
    escaped literally. Literal-prefix rules translate to `^prefix`,
    i.e. exactly the old startswith semantics."""
    import re as _re

    anchor = val.endswith("$")
    body = val[:-1] if anchor else val
    parts = [".*" if ch == "*" else _re.escape(ch) for ch in body]
    return "^" + "".join(parts) + ("$" if anchor else "")


def _robots_lines(txt: str | None, user_agent: str, rule_keys: tuple):
    """robots.txt directives in file order as (key, value, applies):
    comments and blank lines dropped, key lowercased, both stripped.
    User-agent lines are consumed, not yielded: they build the RFC 9309
    groups — consecutive User-agent lines open a group, and the first
    User-agent line after one of `rule_keys` opens the next — and
    `applies` says whether the line's group names `user_agent`."""
    ua = user_agent.lower()
    uas: list[str] = []
    in_rules = applies = False
    for raw in (txt or "").splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line:
            continue
        key, _, val = line.partition(":")
        key, val = key.strip().lower(), val.strip()
        if key == "user-agent":
            if in_rules:  # new group starts
                uas, in_rules = [], False
            uas.append(val.lower())
            applies = ua in uas
            continue
        in_rules = in_rules or key in rule_keys
        yield key, val, applies


_RULE_KEYS = ("allow", "disallow")

ROBOTS_RULES_SCHEMA = StructType([
    StructField("host", StringType()),
    StructField("prefix", StringType()),
    StructField("pattern", StringType()),
    StructField("allow", IntegerType()),
    StructField("rule_len", IntegerType()),
])


def _robots_rule_rows(host: str, robots_txt: str | None, *, user_agent: str):
    for key, val, applies in _robots_lines(robots_txt, user_agent,
                                           _RULE_KEYS):
        if key in _RULE_KEYS and applies and val:
            yield {"host": host, "prefix": val,
                   "pattern": _robots_rule_regex(val),
                   "allow": 1 if key == "allow" else 0,
                   "rule_len": len(val)}


def parse_robots(df: DataFrame) -> DataFrame:
    """robots.txt → (host, prefix, pattern, allow, rule_len) rules for
    the groups whose User-agent set contains `*` (RFC 9309
    grouping: consecutive User-agent lines open a group; the group's
    Allow/Disallow rules follow until the next User-agent line after
    rules). Empty Disallow values are dropped (allow-all, no rule).
    `pattern` is the rule compiled to an anchored regex with RFC 9309
    `*`/`$` wildcard semantics (see _robots_rule_regex); `rule_len`
    is the raw rule length in octets — the RFC's specificity key.

    Per-row line parse (a real line parser, the documented non-Column
    path); output is a small rules table keyed by host."""
    return map_rows(df.select("host", "robots_txt"),
                    _robots_rule_rows, ROBOTS_RULES_SCHEMA,
                    user_agent="*")


CRAWL_DELAY_SCHEMA = StructType([
    StructField("host", StringType()),
    StructField("crawl_delay", DoubleType()),
])


def _crawl_delay_rows(host: str, robots_txt: str | None, *, user_agent: str):
    delays = []
    for key, val, applies in _robots_lines(robots_txt, user_agent,
                                           _RULE_KEYS + ("crawl-delay",)):
        if key == "crawl-delay" and applies:
            try:
                delays.append(float(val))
            except ValueError:
                continue
    if delays:
        yield {"host": host, "crawl_delay": max(delays)}


def parse_crawl_delay(df: DataFrame) -> DataFrame:
    """Crawl-delay directive per host for the groups whose User-agent
    set contains `*` (same RFC 9309 grouping as parse_robots,
    except that a Crawl-delay line also ends a group's User-agent
    lines; Crawl-delay is a de-facto extension most crawlers honor).
    The LARGEST applying delay wins (conservative). Non-numeric values
    are ignored. Returns (host, crawl_delay:double) — hosts without a
    directive are absent (callers supply the default).

    Per-row line parse; output is host-cardinality tiny."""
    return map_rows(df.select("host", "robots_txt"),
                    _crawl_delay_rows, CRAWL_DELAY_SCHEMA,
                    user_agent="*")


def robots_filter(pages: DataFrame, rules: DataFrame) -> DataFrame:
    """RFC 9309 crawl-permission filter: per page, the longest
    matching rule wins (rule length in octets, wildcards included —
    the RFC's specificity key); on a length tie Allow beats Disallow;
    no matching rule means allowed. Matching honors §2.2.3 wildcards
    via the rules table's precompiled `pattern` regex (`*` = any
    sequence, trailing `$` = end anchor), so rules like
    `Disallow: /*?` and `Disallow: /*.pdf$` behave as crawlers expect.
    Adds an `allowed` boolean.

    Scale (10^12 pages): one host-keyed shuffle join — rules tables
    are tiny per host but hosts are skewed, so AQE skew-join (or a
    host-salt with rule replication) handles the mega-hosts; the
    winner is one max(struct) partial agg keyed by (host, path).
    Never a cross join. (The winner key is the deterministic
    (host, path) pair, NOT monotonically_increasing_id — that
    expression is partitioning-dependent and re-evaluates differently
    on each subtree reference.)"""
    keys = pages.select("host", "path").distinct()
    matched = keys.join(rules, "host").filter(
        F.regexp_like(F.col("path"), F.col("pattern")))
    wins = matched.groupBy("host", "path").agg(
        F.max(F.struct("rule_len", "allow")).alias("win"))
    return (
        pages.join(wins, ["host", "path"], "left")
        .withColumn("allowed",
                    F.coalesce(F.col("win.allow") == 1, F.lit(True)))
        .drop("win")
    )


CC_LICENSE_RE = r"creativecommons\.org/licenses/([a-z-]+)/([0-9]+\.[0-9]+)"
CC_ZERO_RE = r"creativecommons\.org/publicdomain/zero/([0-9]+\.[0-9]+)"


def detect_license(html: Column) -> Column:
    """Creative-Commons license marker from page markup (the
    provenance filter permissively-licensed training corpora are built
    on): first creativecommons.org license href → 'by-sa-4.0'-style
    id, publicdomain/zero → 'cc0-1.0', else NULL. Pure Column regex —
    pipelined into the scan, no shuffle at any scale."""
    h = F.coalesce(html, F.lit(""))
    cc = F.regexp_extract(h, CC_LICENSE_RE, 1)
    ver = F.regexp_extract(h, CC_LICENSE_RE, 2)
    zero = F.regexp_extract(h, CC_ZERO_RE, 1)
    return (
        F.when(cc != "", F.concat(cc, F.lit("-"), ver))
        .when(zero != "", F.concat(F.lit("cc0-"), zero))
        .otherwise(F.lit(None).cast("string"))
    )


def _meta_attr(h: Column, key_attr: str, key: str,
               val_attr: str, tag: str = "meta") -> Column:
    """Value of <tag key_attr=key ... val_attr=V> tolerating BOTH
    attribute orders and either quote style. Returns '' when absent."""
    qv = "[\"']"
    fwd = F.regexp_extract(
        h, rf"(?i)<{tag}\s+{key_attr}={qv}{key}{qv}\s+"
           rf"{val_attr}={qv}([^\"']*)", 1)
    rev = F.regexp_extract(
        h, rf"(?i)<{tag}\s+{val_attr}={qv}([^\"']*){qv}\s+"
           rf"{key_attr}={qv}{key}{qv}", 1)
    return F.when(fwd != "", fwd).otherwise(rev)


def html_meta(pages: DataFrame) -> DataFrame:
    """Page-metadata extraction — the head-parsing pass beside
    boilerplate stripping: <title>, meta description, og:title,
    canonical link, html-lang, and declared charset, each NULL when
    absent. Attribute order and quote style both vary in the wild and
    are tolerated (name=/content= in either order, " or ').

    Entirely JVM-side regexp_extract over the decoded page — a pure
    codegen projection pipelined into the scan: no shuffle, no Python,
    at any corpus size. Values come back HTML-escaped exactly as
    written in the markup (unescaping is normalize_text's job)."""
    h = F.coalesce(F.col("html").cast("string"), F.lit(""))

    def opt(c: Column) -> Column:
        return F.nullif(c, F.lit(""))

    return pages.select(
        *[c for c in pages.columns if c != "html"],
        opt(F.regexp_extract(h, r"(?is)<title[^>]*>(.*?)</title>", 1))
        .alias("title"),
        opt(_meta_attr(h, "name", "description", "content"))
        .alias("description"),
        opt(_meta_attr(h, "property", "og:title", "content"))
        .alias("og_title"),
        opt(_meta_attr(h, "rel", "canonical", "href", tag="link"))
        .alias("canonical"),
        opt(F.regexp_extract(h, r"(?i)<html[^>]*\slang=[\"']([^\"']*)", 1))
        .alias("page_lang"),
        opt(F.regexp_extract(h, r"(?i)<meta\s+charset=[\"']([^\"']*)", 1))
        .alias("charset"),
    )


def politeness_schedule(pages: DataFrame, delays: DataFrame) -> DataFrame:
    """Crawl-delay-aware frontier schedule: politeness_slots' per-host
    slot packing, with each host's slots spaced by its robots
    Crawl-delay (parse_crawl_delay output; 1 second where absent).
    Adds fetch_slot and fetch_offset_s = slot × delay — the dispatch
    timestamp offset a frontier worker sleeps to.

    Scale: the host-keyed window shuffle politeness already pays, plus
    one broadcast join against the host-cardinality delay table."""
    slotted = politeness_slots(pages)
    d = delays.select("host", "crawl_delay")
    return (
        slotted.join(F.broadcast(d), "host", "left")
        .withColumn(
            "fetch_offset_s",
            F.round(F.col("fetch_slot")
                    * F.coalesce("crawl_delay", F.lit(1.0)), 6),
        )
        .drop("crawl_delay")
    )


def politeness_slots(pages: DataFrame) -> DataFrame:
    """Crawl-frontier politeness schedule: fetches for one host must
    spread over time, so each host's urls (deterministic url order)
    are packed two per time slot — slot k of host h holds its urls
    ranked [2k, 2k+2). Adds `fetch_slot`.

    Scale: one host-keyed window shuffle; the per-host sort is the
    frontier's own ordering requirement, not overhead. Mega-host skew
    is inherent to the SEMANTICS here (one host's schedule is one
    sequence) — at 10^12 urls, cap per-host frontier size upstream
    rather than salting a sequence that must stay serial."""
    w = Window.partitionBy("host").orderBy("url")
    return pages.withColumn(
        "fetch_slot",
        ((F.row_number().over(w) - 1) / 2).cast("int"))


# Query parameters that never affect page identity: analytics /
# click-tracking noise stripped before URL dedup (the SURT-style
# canonicalization every crawl dedup pass runs; same default set as
# common crawl tooling). Kept as a regex so the DuckDB oracle can run
# the IDENTICAL pattern.
TRACKING_PARAM_RE = r"^(utm_[a-z]+|gclid|fbclid|msclkid|ref)="


def canonical_url(url: Column) -> Column:
    """Full crawl-grade URL canonicalization (the dedup key, one step
    beyond normalize_url's display form): scheme dropped, host
    lowercased with `www.` and default :80/:443 ports stripped,
    fragment dropped, tracking query parameters removed
    (TRACKING_PARAM_RE), surviving parameters SORTED so parameter
    order never splits a dedup group, trailing slash trimmed. Path
    case is preserved (paths are case-sensitive; hosts are not).

    Pure Column expressions — whole-stage codegen, no shuffle."""
    u = F.coalesce(url, F.lit(""))
    u = F.regexp_replace(u, r"^[A-Za-z][A-Za-z0-9+.-]*://", "")
    u = F.regexp_replace(u, r"#.*$", "")
    base = F.regexp_extract(u, r"^([^?]*)", 1)
    query = F.regexp_extract(u, r"\?(.*)$", 1)
    hostport = F.lower(F.regexp_extract(base, r"^([^/]*)", 1))
    host = F.regexp_replace(
        F.regexp_replace(hostport, r":(80|443)$", ""), r"^www\.", "")
    path = F.regexp_replace(
        F.regexp_extract(base, r"^[^/]*(/.*)?$", 1), r"/+$", "")
    params = F.array_sort(F.filter(
        F.split(query, "&"),
        lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_RE),
    ))
    return F.concat(
        host, path,
        F.when(F.size(params) > 0,
               F.concat(F.lit("?"), F.array_join(params, "&")))
        .otherwise(F.lit("")),
    )


def url_dedup(pages: DataFrame) -> DataFrame:
    """Canonical-URL dedup — the crawl-ingest pass that collapses
    scheme/www/port/tracking-param/param-order/trailing-slash variants
    of the same resource before any content fetch or text dedup runs.
    Winner per canonical key = smallest id (deterministic keep-first).

    Returns one row per canonical URL: (canon_url, doc_id, n_variants)
    with doc_id = the winning row's id.

    Scale (10^12 urls): canonicalization is a pure per-row map; the
    dedup itself is ONE min/count aggregation keyed on the canonical
    string (uniform — md5-like key distribution comes free from URL
    diversity; a pathological single-URL flood is bounded by the agg's
    map-side partial combine)."""
    return (
        pages.select(F.col("doc_id"),
                     canonical_url(F.col("url")).alias("canon_url"))
        .groupBy("canon_url")
        .agg(F.min("doc_id").alias("doc_id"),
             F.count("*").alias("n_variants"))
    )


def host_suffixes(host: Column) -> Column:
    """All registrable-suffix ancestors of a host that a domain
    blocklist entry could match: the host itself plus every parent
    suffix with >= 2 labels ('a.b.example.com' → ['a.b.example.com',
    'b.example.com', 'example.com']). Bounded by the label count
    (hosts have < ~10 labels), so the fan-out is O(1) per row."""
    labels = F.split(F.coalesce(host, F.lit("")), r"\.")
    n = F.size(labels)
    return F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(0), n - 2),
            lambda i: F.array_join(F.slice(labels, i + 1, n - i), "."),
        ),
    ).otherwise(F.array(F.coalesce(host, F.lit(""))))


def blocklist_filter(pages: DataFrame, blocklist: DataFrame) -> DataFrame:
    """Domain-blocklist filter (the UT1/adult-list pass of CC-derived
    corpora, e.g. RefinedWeb §3.1): a page is blocked when its host OR
    ANY parent domain appears in the blocklist — 'x.ads.example.net'
    is blocked by the entry 'ads.example.net'. Adds `blocked` and
    `blocked_by` (the LONGEST matching entry, ties broken
    lexicographically; NULL when allowed).

    Scale (10^12 pages, 10^6-entry blocklist): each page explodes into
    its <= ~10 ancestor suffixes and inner-joins the BROADCAST
    blocklist, so the explode side collapses to one row per DISTINCT
    blocked host before anything wide happens; the verdict joins back
    host-keyed (blocked-host cardinality << page count — AQE broadcasts
    it when small). Never a regex scan over entries."""
    cand = pages.select(
        F.col("host").alias("_bl_host"),
        F.explode(host_suffixes(F.col("host"))).alias("_suffix"),
    ).join(
        F.broadcast(blocklist.select(F.col("entry").alias("_suffix"))),
        "_suffix",
    ).groupBy("_bl_host").agg(
        F.max(F.struct(F.length("_suffix").alias("l"),
                       F.col("_suffix").alias("e"))).alias("_m"))
    return (
        pages.join(
            cand.select(F.col("_bl_host").alias("host"),
                        F.col("_m.e").alias("blocked_by")),
            "host", "left")
        .withColumn("blocked", F.col("blocked_by").isNotNull())
    )


# Control characters stripped by normalize_text: C0 minus \t \n \r,
# plus DEL. Written with textual \x escapes so the IDENTICAL pattern
# string runs under Python re, Java regex, and DuckDB RE2.
CONTROL_RE = r"[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]"
_CONTROL = re.compile(CONTROL_RE)
_SPACES = re.compile(r"[ \t]+")

NORMALIZED_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("text_norm", StringType()),
    StructField("n_chars_raw", IntegerType()),
    StructField("n_chars_norm", IntegerType()),
])


def _normalized_rows(doc_id: int, text: str | None):
    raw = text or ""
    norm = unicodedata.normalize("NFC", raw)
    norm = _SPACES.sub(" ", _CONTROL.sub("", norm)).strip(" ")
    yield {"doc_id": doc_id, "text_norm": norm,
           "n_chars_raw": len(raw), "n_chars_norm": len(norm)}


def normalize_text(df: DataFrame) -> DataFrame:
    """ftfy-lite text normalization — the encoding-hygiene pass every
    web-text pipeline runs before tokenization/dedup (mojibake-adjacent
    combining sequences, stray control bytes, whitespace noise):

      1. Unicode NFC (combining sequences compose: 'e'+U+0301 → 'é',
         U+212B ANGSTROM SIGN → 'Å') — without this, byte-level dedup
         treats canonically-equal texts as distinct.
      2. C0/DEL control characters stripped (CONTROL_RE; \\t \\n kept).
      3. Runs of spaces/tabs collapse to one space.
      4. Leading/trailing spaces trimmed.

    Returns (id, text_norm, n_chars_raw, n_chars_norm).

    Scale: a pure per-row map (one NFC pass and two regex passes per
    document), no shuffle, pipelined into the scan. The DuckDB oracle
    re-derives the same transform via nfc_normalize + regexp_replace —
    semantic parity across two independent NFC implementations."""
    return map_rows(df.select("doc_id", "text"), _normalized_rows,
                    NORMALIZED_SCHEMA)


SITEMAPS_SCHEMA = StructType([
    StructField("host", StringType()),
    StructField("sitemap_url", StringType()),
    StructField("sm_rank", IntegerType()),
])


def _sitemap_rows(host: str, robots_txt: str | None):
    urls = (val for key, val, _ in _robots_lines(robots_txt, "*", ())
            if key == "sitemap" and val)
    for rank, url in enumerate(urls, 1):
        yield {"host": host, "sitemap_url": url, "sm_rank": rank}


def parse_sitemaps(df: DataFrame) -> DataFrame:
    """Sitemap cross-references from robots.txt (sitemaps.org
    protocol; RFC 9309 treats unknown lines as extensions): `Sitemap:`
    lines are NOT group-scoped — they apply to every crawler no matter
    which User-agent group they appear near, so the group each line
    falls in is ignored. Returns (host, sitemap_url, sm_rank) with
    sm_rank = 1-based file order (crawl schedulers fetch in published
    order).

    Per-row line parse; output is host-cardinality tiny."""
    return map_rows(df.select("host", "robots_txt"), _sitemap_rows,
                    SITEMAPS_SCHEMA)


def surt_key(url: Column) -> Column:
    """SURT (Sort-friendly URI Reordering Transform) key — the archive-
    native canonical form (Heritrix / OpenWayback / CDX convention):
    lowercase, scheme and leading www. dropped, host labels reversed
    and comma-joined, then ')' and the path with query/fragment and
    trailing slashes stripped:

        https://WWW.News.Example.co.uk:8080/World/s1/?id=2
            → uk,co,example,news)/world/s1

    Same-site URLs become lexicographic neighbors, which is the whole
    point: a sort or range-partition on the SURT key co-locates a
    site's pages in the same partitions/files, so per-site crawl diffs
    and CDX lookups touch one file range instead of scattering. Pure
    codegen string ops — no shuffle, no Python."""
    u = F.lower(url)
    u = F.regexp_replace(u, r"^[a-z][a-z0-9+.-]*://", "")
    hostport = F.regexp_extract(u, r"^([^/]*)", 1)
    host = F.regexp_replace(hostport, r":[0-9]+$", "")
    host = F.regexp_replace(host, r"^www\.", "")
    rev = F.array_join(F.reverse(F.split(host, r"\.")), ",")
    path = F.regexp_replace(u, r"^[^/]*", "")
    path = F.regexp_replace(F.regexp_replace(path, r"[?#].*$", ""),
                            r"/+$", "")
    return F.concat(rev, F.lit(")"), path)


def html_tables(pages: DataFrame) -> DataFrame:
    """HTML table extraction — the tabular half of main-content
    extraction (the web-page mirror of the PDF lattice/stream table
    surface): every <table> in the page becomes (doc_id, table_id,
    row, col, cell) rows, 0-indexed, with <th> and <td> cells treated
    alike, inner markup stripped, and text whitespace-trimmed.

    Three nested regexp_extract_all + posexplode stages (tables →
    rows → cells), all JVM-side codegen — per-row work linear in page
    size, no shuffle, so it pipelines straight out of the scan at any
    corpus size. Tolerates attributes on any tag, arbitrary
    inter-tag whitespace, and mixed th/td rows; built for the
    well-formed-markup common case (a malformed page yields fewer
    rows, never an error)."""
    h = F.coalesce(F.col("html").cast("string"), F.lit(""))
    keep = [c for c in pages.columns if c != "html"]
    tables = pages.select(
        *keep,
        F.posexplode(
            F.regexp_extract_all(h, F.lit(r"(?is)<table[^>]*>(.*?)</table>"),
                                 F.lit(1))).alias("table_id", "tbody"),
    )
    rows = tables.select(
        *keep, "table_id",
        F.posexplode(
            F.regexp_extract_all(F.col("tbody"),
                                 F.lit(r"(?is)<tr[^>]*>(.*?)</tr>"),
                                 F.lit(1))).alias("row", "trow"),
    )
    return rows.select(
        *keep, "table_id", "row",
        F.posexplode(
            F.transform(
                F.regexp_extract_all(F.col("trow"),
                                     F.lit(r"(?is)<t[dh][^>]*>(.*?)</t[dh]>"),
                                     F.lit(1)),
                lambda c: F.trim(F.regexp_replace(c, r"<[^>]*>", "")))
        ).alias("col", "cell"),
    )


def meta_robots(pages: DataFrame) -> DataFrame:
    """Meta-robots directives — the in-page half of crawl compliance
    (robots.txt being the out-of-band half): parse
    <meta name="robots" content="..."> and emit `noindex` / `nofollow`
    booleans (directive list is comma-separated, case-insensitive,
    whitespace-tolerant; both attribute orders and quote styles
    accepted; a page without the tag is indexable+followable).

    Pure codegen regexp work pipelined into the scan — the filter
    belongs BEFORE expensive extraction so noindex pages never reach
    the text pipeline."""
    h = F.coalesce(F.col("html").cast("string"), F.lit(""))
    content = F.lower(_meta_attr(h, "name", "robots", "content"))
    directive = lambda d: F.regexp_like(  # noqa: E731
        content, F.lit(rf"(^|,)\s*{d}\s*(,|$)"))
    return pages.select(
        *[c for c in pages.columns if c != "html"],
        directive("noindex").alias("noindex"),
        directive("nofollow").alias("nofollow"),
    )


def crawl_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """Incremental crawl diff — the snapshot-compare step that turns
    full recrawls into incremental work: full-outer join two
    (url, digest) snapshots and classify each URL as

      'added'    present only in new
      'removed'  present only in old
      'changed'  present in both with different digests

    Unchanged URLs are omitted (the whole point: downstream
    re-extraction runs on the diff, not the crawl). Returns
    (url, status, old_digest, new_digest).

    ONE url-keyed shuffle join; both sides aggregate map-side if they
    carry duplicate snapshots. At 10^12 scale the join co-locates
    for free when both snapshots are bucketed/sorted by url (SURT
    order), which is why surt_key exists."""
    o = old.select(F.col("url"),
                   F.col("digest").alias("old_digest"))
    n = new.select(F.col("url"),
                   F.col("digest").alias("new_digest"))
    j = o.join(n, "url", "full_outer")
    status = (
        F.when(F.col("old_digest").isNull(), F.lit("added"))
        .when(F.col("new_digest").isNull(), F.lit("removed"))
        .when(F.col("old_digest") != F.col("new_digest"),
              F.lit("changed"))
    )
    return (j.withColumn("status", status)
            .filter(F.col("status").isNotNull())
            .select("url", "status", "old_digest", "new_digest"))


def parse_feeds(feeds: DataFrame) -> DataFrame:
    """RSS 2.0 feed-item extraction — the third discovery channel
    beside sitemaps and anchor links: every <item> yields (host,
    item_rank, title, link), rank = 1-based document order (feeds are
    reverse-chronological; schedulers fetch in published order).
    Missing title/link come back NULL; CDATA and inline markup are
    not interpreted (feed payload cleaning is normalize_text's job).

    Codegen regexp_extract_all over item blocks + one posexplode —
    pipelined into the scan, no shuffle, host-cardinality output."""
    x = F.coalesce(F.col("xml").cast("string"), F.lit(""))
    items = feeds.select(
        F.col("host"),
        F.posexplode(
            F.regexp_extract_all(x, F.lit(r"(?is)<item[^>]*>(.*?)</item>"),
                                 F.lit(1))).alias("pos", "item"),
    )
    return items.select(
        "host",
        (F.col("pos") + 1).alias("item_rank"),
        F.nullif(F.regexp_extract(
            F.col("item"), r"(?is)<title[^>]*>(.*?)</title>", 1), F.lit(""))
        .alias("title"),
        F.nullif(F.regexp_extract(
            F.col("item"), r"(?is)<link[^>]*>(.*?)</link>", 1), F.lit(""))
        .alias("link"),
    )


ASSET_EXTS = "jpg|jpeg|png|gif|webp|svg|ico|css|js|woff|woff2|ttf|mp4|mp3"
DOC_EXTS = "pdf|doc|docx|xls|xlsx|ppt|pptx|epub"


def url_classify(url: Column) -> dict[str, Column]:
    """Frontier-triage flags for a URL — the cheap pre-fetch filter
    that keeps asset noise out of a text crawl:

      is_asset      path extension is an image/style/script/media type
      is_document   path extension is an office/ebook format (fetch,
                    but route to the PDF/doc pipeline, not HTML)
      has_query     carries a query string
      is_pagination looks like a listing page (?page=, ?p=, /page/N)
      path_depth    number of path segments (crawl-depth budget knob)

    Pure codegen regex/string ops over the URL column — zero shuffle,
    runs in the scan projection of a frontier table at any size."""
    u = F.lower(url)
    path = F.regexp_replace(
        F.regexp_replace(u, r"^[a-z][a-z0-9+.-]*://", ""), r"[?#].*$", "")
    path_only = F.regexp_replace(path, r"^[^/]*", "")
    return {
        "is_asset": F.regexp_like(path, F.lit(rf"\.({ASSET_EXTS})$")),
        "is_document": F.regexp_like(path, F.lit(rf"\.({DOC_EXTS})$")),
        "has_query": u.contains("?"),
        "is_pagination": F.regexp_like(
            u, F.lit(r"[?&](page|p)=[0-9]+|/page/[0-9]+")),
        "path_depth": F.size(F.filter(F.split(path_only, "/"),
                                      lambda s: s != "")),
    }


def _bloom_positions() -> Column:
    """The 3 md5-derived bit positions of the `url` key in a 64-word
    (2,048-bit) filter."""
    return F.array(*[
        F.pmod(F.conv(F.substring(F.md5(F.concat(F.lit(f"b{i}:"),
                                                 F.col("url"))), 1, 8),
                      16, 10).cast("long"),
               F.lit(64 * 32))
        for i in range(3)
    ])


def bloom_build(df: DataFrame) -> DataFrame:
    """Distributed Bloom filter build over a key column — the
    seen-URL negative cache a recrawl frontier consults before
    touching the (much larger) crawl history: 64 32-bit words,
    3 md5-derived bit positions per key. Returns (word_idx, bits) —
    only words with set bits appear (missing word = 0).

    Scale shape: keys explode into 3 (word, bit) pairs; ONE word-keyed
    bit_or aggregation (map-side partials) collapses any corpus to at
    most 64 rows. md5 keeps positions SQL-portable, so the SQL
    oracle rebuilds the identical bitset."""
    exploded = df.select(
        F.explode(_bloom_positions()).alias("p")
    ).select(
        (F.col("p") / 32).cast("int").alias("word_idx"),
        F.pmod(F.col("p"), F.lit(32)).cast("int").alias("bit"),
    )
    return (exploded
            .groupBy("word_idx")
            .agg(F.bit_or(F.expr("shiftleft(1L, bit)")).alias("bits")))


def bloom_contains(bloom: DataFrame, candidates: DataFrame) -> DataFrame:
    """Membership probe against a bloom_build filter: a candidate is
    'maybe seen' iff ALL 3 of its bits are set (false positives
    possible by design, false negatives never). Returns every
    candidate row's key plus `maybe_seen`.

    The filter is at most 64 rows — broadcast — so probing is a
    map-side join + per-key count aggregation however large the
    candidate stream is."""
    probes = candidates.select(
        F.col("url").alias("key"),
        F.explode(_bloom_positions()).alias("p"),
    ).select(
        "key",
        (F.col("p") / 32).cast("int").alias("word_idx"),
        F.pmod(F.col("p"), F.lit(32)).cast("int").alias("bit"),
    )
    hit = probes.join(F.broadcast(bloom), "word_idx", "left").select(
        "key",
        F.when(
            F.col("bits").isNotNull()
            & (F.col("bits").bitwiseAND(F.expr("shiftleft(1L, bit)")) != 0),
            1).otherwise(0).alias("ok"),
    )
    return (hit.groupBy("key")
            .agg((F.sum("ok") == 3).alias("maybe_seen")))


def html_outline(pages: DataFrame) -> DataFrame:
    """Heading outline extraction — the web mirror of PDF bookmarks:
    every <h1>-<h6> in document order becomes (doc_id, rank, level,
    heading), rank 1-based over the whole page, level the numeric
    heading depth, inner markup stripped and text trimmed. Downstream
    uses: section-aware chunking for retrieval, title fallback,
    structure-based quality signals (a page whose outline is empty or
    one-level-deep reads differently from an article).

    One codegen regexp_extract_all + posexplode; the level is re-read
    from the matched tag itself, so mixed heading levels keep document
    order (a single pattern pass, not six)."""
    h = F.coalesce(F.col("html").cast("string"), F.lit(""))
    keep = [c for c in pages.columns if c != "html"]
    hits = pages.select(
        *keep,
        F.posexplode(
            F.regexp_extract_all(
                h, F.lit(r"(?is)<h([1-6])[^>]*>.*?</h[1-6]>"), F.lit(0))
        ).alias("pos", "m"),
    )
    return hits.select(
        *keep,
        (F.col("pos") + 1).alias("rank"),
        F.regexp_extract(F.col("m"), r"(?i)<h([1-6])", 1).cast("int")
        .alias("level"),
        F.trim(F.regexp_replace(
            F.regexp_extract(F.col("m"), r"(?is)<h[1-6][^>]*>(.*?)</h[1-6]>",
                             1),
            r"<[^>]*>", "")).alias("heading"),
    )


def host_template_ratio(pages: DataFrame) -> DataFrame:
    """Per-host template detection: how much of a host's corpus is the
    SAME repeated line — the signal that a host serves one template
    with tiny content variation (tag pages, calendar pages, product
    grids), which both dedup and quality filters want to know before
    spending per-page work. For each host:

      (host, n_docs, top_line_docs, template_ratio)

    template_ratio = (docs containing the host's most-shared line) /
    n_docs, 6dp. Hosts whose ratio ≈ 1 are template mills.

    Scale shape: distinct (host, line, doc) rows collapse to (host,
    line) doc-counts with map-side partials; the per-host maximum is
    ONE max aggregation — no window over the corpus, no pair joins.
    Shuffle keys are (host, line) then host."""
    lines = pages.select(
        F.col("host"),
        F.col("doc_id"),
        F.explode(F.filter(
            F.transform(F.split(F.coalesce(F.col("text"), F.lit("")),
                                "\n"), lambda l: F.trim(l)),
            lambda l: l != "")).alias("line"),
    ).distinct()
    line_docs = lines.groupBy("host", "line").agg(
        F.count("*").alias("n_line_docs"))
    hosts = pages.select("host", "doc_id").distinct() \
        .groupBy("host").agg(F.count("*").alias("n_docs"))
    top = line_docs.groupBy("host").agg(
        F.max("n_line_docs").alias("top_line_docs"))
    return (hosts.join(top, "host", "left")
            .select("host", "n_docs",
                    F.coalesce("top_line_docs", F.lit(0)).cast("long")
                    .alias("top_line_docs"))
            .withColumn("template_ratio",
                        F.round(F.col("top_line_docs") / F.col("n_docs"),
                                6)))


def host_boilerplate_strip(pages: DataFrame, max_ratio: float = 0.5,
                           line_tokens: int | None = None,
                           host_col: str = "host") -> DataFrame:
    """Per-host boilerplate REMOVAL — the strip stage host_template_
    ratio's detection signal feeds (the CCNet/RefinedWeb line-level
    cleanup: navigation bars, cookie banners, footers repeat across a
    host's pages; content does not). A line is boilerplate for a host
    iff it appears in ≥ 2 distinct documents AND in ≥ max_ratio
    of the host's documents; every occurrence is removed and each
    document's surviving lines reassemble in order.

    `line_tokens=None` splits on newlines (real web text); an integer
    re-expresses lines as fixed token windows for corpora without
    line structure (same re-expression as dedup.line_dedup, same
    rationale). Returns (doc_id, n_lines, n_kept, kept_text), one row
    per input document.

    Scale shape (10^12 pages): lines key by (host, md5(line)) —
    uniform, collision-free; the doc-frequency table is distinct +
    count aggs with map-side partials; host totals are a host-keyed
    count (bounded cardinality). The boilerplate set scales with the
    corpus so it is NOT broadcast — occurrences remove it via a
    left_anti hash join on the same uniform key. Reassembly is
    doc-keyed, bounded per doc. No windows, no pair joins."""
    t = F.coalesce(F.col("text"), F.lit(""))
    if line_tokens is None:
        line_arr = F.filter(
            F.transform(F.split(t, "\n"), lambda l: F.trim(l)),
            lambda l: l != "")
    else:
        toks = word_tokens(t)

        # bind-as-lambda-variable so the split runs once per row, not
        # once per emitted line (word_ngrams bug class, round 6)
        def _lines(tk: Column) -> Column:
            n_lines = F.ceil(F.size(tk) / F.lit(float(line_tokens)))
            return F.when(
                F.size(tk) > 0,
                F.transform(
                    F.sequence(F.lit(0), n_lines.cast("int") - 1),
                    lambda i: F.array_join(
                        F.slice(tk, i * line_tokens + 1, line_tokens),
                        " ")),
            ).otherwise(F.array().cast("array<string>"))

        line_arr = F.element_at(F.transform(F.array(toks), _lines), 1)
    base = pages.select(F.col(host_col).alias("host"),
                        F.col("doc_id"),
                        line_arr.alias("lines"))
    lines = base.select(
        "host", "doc_id",
        F.posexplode("lines").alias("line_idx", "line"),
    ).withColumn("g", F.md5("line"))
    line_docs = (lines.select("host", "g", "doc_id").distinct()
                 .groupBy("host", "g")
                 .agg(F.count("*").alias("n_line_docs")))
    hosts = (base.select("host", "doc_id").distinct()
             .groupBy("host").agg(F.count("*").alias("n_docs")))
    boiler = (line_docs.join(hosts, "host")
              .filter((F.col("n_line_docs") >= 2)
                      & (F.col("n_line_docs")
                         >= F.col("n_docs") * max_ratio))
              .select("host", "g"))
    kept = lines.join(boiler, ["host", "g"], "left_anti")
    kept_agg = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("line_idx", "line"))),
                lambda s: s["line"]),
            " " if line_tokens is not None else "\n").alias("kept_text"),
    )
    return (
        base.select("doc_id", F.size("lines").alias("n_lines"))
        .join(kept_agg, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_lines").cast("long").alias("n_lines"),
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce("kept_text", F.lit("")).alias("kept_text"),
        )
    )


def url_trap_score(pages: DataFrame) -> DataFrame:
    """Crawl-trap scoring per host: traps (session ids, calendars,
    faceted search) manufacture unbounded DISTINCT URLs that collapse
    to few distinct resources once query/fragment junk is stripped.

      (host, n_urls, n_resources, trap_score)

    trap_score = 1 - n_resources/n_urls (6dp): 0 for a clean host,
    → 1 when thousands of URLs alias a handful of pages. Frontier
    schedulers throttle high-score hosts before the crawl drowns.

    Two count-distinct aggregations keyed by host (map-side partial
    distinct), no joins beyond the final host merge."""
    u = pages.select(F.col("host"),
                     F.col("url"),
                     normalize_url(F.col("url")).alias("resource"))
    per = u.groupBy("host").agg(
        F.countDistinct("url").alias("n_urls"),
        F.countDistinct("resource").alias("n_resources"))
    return per.select(
        "host", "n_urls", "n_resources",
        F.round(1.0 - F.col("n_resources") / F.col("n_urls"), 6)
        .alias("trap_score"))


def consistent_shard(hosts: DataFrame, n_shards: int = 8,
                     replicas: int = 16) -> DataFrame:
    """Consistent-hash ring assignment of hosts to fetcher shards —
    the crawler property plain `hash % n` lacks: growing the fleet
    from n to n+1 shards remaps only ~1/n of hosts, so per-host
    politeness state and connection pools stay put. Each shard owns
    `replicas` ring points at md5('ring:<shard>:<replica>'); a host
    maps to the first ring point clockwise of md5(host) (wrapping to
    the ring's minimum). md5 keeps the ring SQL-reproducible.

    Returns (host, shard). Scale shape: the ring is n_shards×replicas
    rows — a broadcast crossJoin (tiny, whitelisted shape) — and the
    assignment reduces per host with one min-aggregation, so the
    cost is a map-side pass over the host table."""
    points = [(s, r) for s in range(n_shards) for r in range(replicas)]
    ring = F.array(*[
        F.struct(
            F.conv(F.substring(F.md5(F.lit(f"ring:{s}:{r}")), 1, 8),
                   16, 10).cast("long").alias("point"),
            F.lit(s).alias("shard"))
        for s, r in points
    ])
    h = F.conv(F.substring(F.md5(F.col("host")), 1, 8), 16, 10) \
        .cast("long")
    cw = F.filter(ring, lambda p: p["point"] >= h)
    best = F.when(F.size(cw) > 0, F.array_min(cw)) \
        .otherwise(F.array_min(ring))
    return hosts.select(
        F.col("host"),
        best["shard"].cast("int").alias("shard"))
