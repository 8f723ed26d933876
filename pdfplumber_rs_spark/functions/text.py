"""Text-analysis columns for a large-scale training-data pipeline:
language ID (stopword heuristic), quality scoring, token counting,
document fingerprinting. Pure Column expressions — JVM-side, fully
pushdown/codegen friendly, and reproducible in ANSI SQL for the
DuckDB oracle."""

from __future__ import annotations

from pyspark.sql import Column, Window
from pyspark.sql import functions as F

# Tiny per-language marker sets for the n-gram/stopword heuristic.
# Deliberately SQL-expressible: the language score is the count of
# marker-word hits, computed with the same expression in the oracle.
LANG_MARKERS = {
    "en": ("the", "and", "of"),
    "de": ("der", "und", "die"),
    "fr": ("le", "et", "les"),
    "es": ("el", "de", "que"),
    "it": ("il", "di", "che"),
    "nl": ("het", "een", "niet"),
    "pt": ("não", "uma", "com"),
}


def _hits(text: Column, word: str) -> Column:
    """Occurrences of ' word ' in the padded, lowercased text."""
    padded = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    needle = f" {word} "
    return (
        (F.length(padded) - F.length(F.replace(padded, F.lit(needle), F.lit(""))))
        / F.lit(len(needle))
    ).cast("int")


def lang_score(text: Column, lang: str) -> Column:
    score = F.lit(0)
    for w in LANG_MARKERS[lang]:
        score = score + _hits(text, w)
    return score


def lang_guess(text: Column) -> Column:
    """argmax over LANG_MARKERS scores; ties broken by language-code
    order (smallest code wins); 'und' when all scores are zero.

    Built as array_max over (score, rank, lang) structs so each score
    expression appears exactly ONCE — the naive when/otherwise fold
    embeds the running best twice per language and grows 3^n, blowing
    the JVM's 64 KB codegen method limit past ~5 languages."""
    langs = sorted(LANG_MARKERS)
    n = len(langs)
    entries = [
        F.struct(
            lang_score(text, lang).alias("s"),
            F.lit(n - 1 - i).alias("r"),  # ties → smallest lang code
            F.lit(lang).alias("lang"),
        )
        for i, lang in enumerate(langs)
    ]
    best = F.array_max(F.array(*entries))
    return F.when(best["s"] > 0, best["lang"]).otherwise(F.lit("und"))


def token_count(text: Column) -> Column:
    """Whitespace token count (0 for blank text)."""
    t = F.trim(text)
    return F.when(t == "", F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+"))
    )


def word_tokens(text: Column) -> Column:
    """BPE-ish tokens: lowercase alphanumeric runs."""
    return F.filter(
        F.split(F.lower(text), r"[^a-z0-9]+"), lambda t: t != ""
    )


# BPE-ish pre-tokenizer pattern (GPT-2 style minus lookarounds, so the
# exact same regex runs on Java (Spark) and RE2 (DuckDB)): letter runs,
# digit runs, punctuation runs — each with an optional leading space —
# and whitespace runs
BPE_PATTERN = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+"


def bpe_token_count(text: Column) -> Column:
    """Token count under the BPE-ish pre-tokenizer: number of non-
    whitespace matches (a better compute-cost proxy than whitespace
    splitting — '3.14' is 3 tokens, 'don't' is 3)."""
    toks = F.regexp_extract_all(F.coalesce(text, F.lit("")),
                                F.lit(BPE_PATTERN), F.lit(0))
    return F.size(F.filter(toks, lambda t: F.trim(t) != ""))


def winnow_fingerprints(df):
    """Winnowing document fingerprints (rolling hash): normalize to a
    lowercase alnum string, hash every 8-gram (portable md5-prefix),
    take the minimum hash of each full window of 4 consecutive
    8-grams, dedupe — the classic local fingerprint set whose overlap
    detects partial plagiarism/near-dup content. Fully Spark-native:
    posexplode over a position sequence + a sliding window MIN.
    Returns (doc_id, fp) distinct rows."""
    d = df.select(
        F.col("doc_id"),
        F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", "")
        .alias("s"),
    ).filter(F.length("s") >= 11)  # one full window: 4 8-grams
    grams = d.select(
        "doc_id",
        F.length("s").alias("slen"),
        F.posexplode(F.sequence(F.lit(1), F.length("s") - 7))  # 8-gram starts
        .alias("idx", "pos"),
        "s",
    ).select(
        "doc_id", "pos",
        (F.col("slen") - 7).alias("n_grams"),
        F.conv(F.substring(F.md5(F.expr("substring(s, pos, 8)")), 1, 8),
               16, 10).cast("long").alias("h"),
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("doc_id").orderBy("pos").rowsBetween(0, 3)
    fps = grams.withColumn("fp", F.min("h").over(w)).filter(
        F.col("pos") <= F.col("n_grams") - 3  # full windows only
    )
    return fps.select("doc_id", "fp").distinct()


def quality_features(text: Column) -> dict[str, Column]:
    """Length / punctuation-ratio / stopword-ratio / mean-token-length —
    the classic boilerplate-vs-content signals."""
    n = F.length(text)
    # ASCII-set membership counts via translate (a per-codepoint char
    # map) instead of regexp_replace: identical counts for any input —
    # both treat exactly the listed ASCII codepoints as members — and
    # ~7x cheaper (regex Matcher allocation per row dominated the
    # quality query; guide §1.2 per-task work). count(members) =
    # len(text) - len(text with members removed).
    _ALNUM = ("ABCDEFGHIJKLMNOPQRSTUVWXYZ"
              "abcdefghijklmnopqrstuvwxyz0123456789")
    n_alnum = n - F.length(F.translate(text, _ALNUM, ""))
    n_punct = n - F.length(F.translate(text, ".,;:!?", ""))
    toks = token_count(text)
    stop = lang_score(text, "en")
    return {
        "n_chars": n,
        "n_tokens": toks,
        "alnum_ratio": F.round(n_alnum / F.greatest(n, F.lit(1)), 6),
        "punct_ratio": F.round(n_punct / F.greatest(n, F.lit(1)), 6),
        "stopword_ratio": F.round(stop / F.greatest(toks, F.lit(1)), 6),
        "mean_token_len": F.round(n_alnum / F.greatest(toks, F.lit(1)), 6),
    }


def quality_score(text: Column) -> Column:
    """[0, 3]-ish composite: rewards mid-length docs with sane
    punctuation and English stopword presence."""
    f = quality_features(text)
    return F.round(
        F.least(f["n_tokens"] / F.lit(100.0), F.lit(1.0))
        + F.when(
            (f["mean_token_len"] >= 3) & (f["mean_token_len"] <= 10), 1.0
        ).otherwise(0.0)
        + F.least(f["stopword_ratio"] * 10.0, F.lit(1.0)),
        6,
    )


def c4_clean(df):
    """C4-style cleaning (Raffel et al. 2020, "Exploring the Limits of
    Transfer Learning…", §2.2 heuristics), the canonical web-corpus
    line+document filter, as pure Column expressions:

    Line level — a line survives iff its trimmed form (a) ends in a
    terminal punctuation mark (. ! ?), (b) has ≥ 3 whitespace-separated
    words, and (c) does not contain 'javascript' (case-insensitive).
    Document level — kept iff the surviving lines carry ≥ 5 terminal
    punctuation marks (the sentence-count proxy) and the ORIGINAL text
    contains neither 'lorem ipsum' nor '{'.

    Returns (doc_id, n_lines, n_kept_lines, n_sentences, kept,
    clean_md5) — clean_md5 hashes the newline-joined surviving lines
    (trimmed), empty string when nothing survives. One narrow
    projection, no shuffle, whole-stage codegen at any scale; the
    regexes live in the Java∩RE2 dialect so the same logic runs as the
    SQL oracle. The line filter and the cleaned text are bound as
    columns, so each is evaluated once per row, not once per use."""
    t = F.coalesce(F.col("text"), F.lit(""))
    lines = F.split(t, "\n")
    kept_lines = F.filter(
        lines,
        lambda l: F.regexp_like(F.trim(l), F.lit(r"[.!?]$"))
        & (F.size(F.filter(F.split(F.trim(l), r"\s+"),
                           lambda w: w != "")) >= 3)
        & ~F.contains(F.lower(l), F.lit("javascript")),
    )
    bound = df.select(
        "doc_id", lines.alias("lines"), kept_lines.alias("kept_lines"),
        F.lower(t).alias("low"),
    ).withColumn(
        "clean", F.array_join(F.transform("kept_lines", F.trim), "\n"))
    n_sentences = F.length(F.regexp_replace("clean", r"[^.!?]", ""))
    kept = (
        (n_sentences >= 5)
        & ~F.contains("low", F.lit("lorem ipsum"))
        & ~F.contains("low", F.lit("{"))
    )
    return bound.select(
        "doc_id",
        F.size("lines").cast("long").alias("n_lines"),
        F.size("kept_lines").cast("long").alias("n_kept_lines"),
        n_sentences.cast("long").alias("n_sentences"),
        kept.alias("kept"),
        F.md5("clean").alias("clean_md5"),
    )


def badwords_filter(df, badwords: tuple[str, ...] | list[str] = ()):
    """C4 §2.2's other document gate (Raffel et al. 2020): drop any
    page containing a word from a blocklist (C4 uses the public
    "List of Dirty, Naughty, Obscene..." word list — supply it via
    ``badwords``; no default list ships here). Token-granular, not
    substring: 'class' never matches a 3-letter entry — the same
    word-boundary semantics C4 applies.

    Plan: the blocklist is a CONSTANT array literal riding inside the
    task binary — a pure codegen projection with zero shuffles and no
    broadcast exchange, so a 10^12-row scan pays exactly one pass.
    (For blocklists too large for a literal — 100k+ entries — use a
    broadcast join against exploded tokens instead; at C4's ~400-word
    scale the literal is strictly cheaper.) Blocklist entries are
    case-folded here to match the lowercased token stream; an entry
    that is not a single alnum token (hyphenated, multi-word) can
    never match and is rejected up front. Null text behaves as empty
    (kept). Returns (doc_id, n_bad_tokens, first_bad, kept)."""
    import re as _re

    bad_entries = [w.lower() for w in badwords]
    for w in bad_entries:
        # exactly the token alphabet ([a-z0-9]): str.isalnum() accepts
        # non-ASCII alphanumerics ('café') that the [a-z0-9]-only token
        # stream can never produce — such entries would pass validation
        # but silently never match (ADVICE r5)
        if not _re.fullmatch(r"[a-z0-9]+", w):
            raise ValueError(
                f"badwords entries must be single alnum [a-z0-9] "
                f"tokens: {w!r}")
    lit = F.array(*[F.lit(w) for w in bad_entries])
    bad = F.filter(
        word_tokens(F.coalesce(F.col("text"), F.lit(""))),
        lambda t: F.array_contains(lit, t))
    return df.select(
        F.col("doc_id"),
        F.size(bad).cast("long").alias("n_bad_tokens"),
        F.try_element_at(bad, F.lit(1)).alias("first_bad"),
        (F.size(bad) == 0).alias("kept"),
    )


def repetition_features(df):
    """Gopher/MassiveText-style within-document repetition signals:
    token count, distinct-token fraction, and the occurrence count of
    the most frequent word bigram. Plan: explode tokens/bigrams →
    partial-aggregated groupBys on (doc, gram) — one uniform shuffle,
    no skew (the key carries the doc id). Returns
    (doc_id, n_tokens, distinct_token_frac, top_bigram_count)."""
    from pyspark.sql import functions as F

    toks = df.select(
        F.col("doc_id"),
        F.explode(
            word_tokens(F.col("text"))
        ).alias("tok"),
    )
    uni = toks.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.count_distinct("tok").alias("n_distinct"),
    )
    # bigrams from the token ARRAY (order-stable, no window needed)
    arr = df.select(
        F.col("doc_id"),
        word_tokens(F.col("text")).alias("l"),
    )
    # Guard: sequence(0, -1) in Spark auto-steps DOWN and yields [0, -1],
    # so a <2-token doc would throw ArrayIndexOutOfBounds in element_at.
    # Short docs must contribute an empty gram array instead.
    bigram_idx = F.when(
        F.size("l") >= 2, F.sequence(F.lit(0), F.size("l") - 2)
    ).otherwise(F.array().cast("array<int>"))
    bigrams = arr.select(
        "doc_id",
        F.explode(
            F.transform(
                bigram_idx,
                lambda i: F.concat_ws(" ", F.element_at("l", i + 1),
                                      F.element_at("l", i + 2)),
            )
        ).alias("gram"),
    )
    topbi = (
        bigrams.groupBy("doc_id", "gram").agg(F.count("*").alias("c"))
        .groupBy("doc_id").agg(F.max("c").alias("top_bigram_count"))
    )
    return (
        uni.join(topbi, "doc_id", "left")
        .select(
            "doc_id", "n_tokens",
            F.round(F.col("n_distinct") / F.greatest("n_tokens", F.lit(1)), 6)
            .alias("distinct_token_frac"),
            F.coalesce("top_bigram_count", F.lit(0)).alias("top_bigram_count"),
        )
    )


def unigram_logprob(df):
    """CCNet-style perplexity proxy: mean negative log-probability of a
    document's tokens under the corpus's own unigram distribution —
    high scores flag rare-token/garbage documents the way a KenLM
    perplexity filter would, with the LM replaced by corpus statistics.

    Plan: one token explode feeds BOTH the vocabulary count (groupBy
    token — vocab-sized, tiny relative to the corpus) and the per-doc
    average; the vocab is broadcast back onto the token stream. The
    corpus-total token count is a 1-row aggregate broadcast-crossJoined
    into the vocab (NOT collected to the driver), so the whole query is
    one lazy DAG with no eager job. Returns (doc_id, n_tokens,
    neg_logprob)."""
    from pyspark.sql import functions as F

    toks = df.select(
        F.col("doc_id"),
        F.explode(
            word_tokens(F.col("text"))
        ).alias("tok"),
    )
    vocab = toks.groupBy("tok").agg(F.count("*").alias("cnt"))
    total = vocab.agg(
        F.greatest(F.sum("cnt"), F.lit(1)).cast("double").alias("total"))
    vocab_p = vocab.crossJoin(F.broadcast(total))
    scored = toks.join(F.broadcast(vocab_p), "tok").select(
        "doc_id", (-F.log(F.col("cnt") / F.col("total"))).alias("nlp"))
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.round(F.avg("nlp"), 6).alias("neg_logprob"),
    )


def bigram_logprob(df):
    """Bigram-LM perplexity proxy (the CCNet/KenLM filtering stage one
    order up from unigram_logprob): mean negative log-probability of a
    document's bigrams under the corpus's own add-one-smoothed bigram
    model, P(w_i | w_{i-1}) = (c(w_{i-1} w_i) + 1) / (c(w_{i-1}) + V).
    High scores flag incoherent token sequences even when every
    individual token is common — what unigram statistics cannot see.

    Plan (10^12-doc shape): one bigram explode feeds BOTH the corpus
    bigram counts and the per-doc stream; the bigram model scales WITH
    the corpus so it is joined back on the uniform gram key (shuffled
    hash join, never broadcast); prev-token counts join on the token
    key; the vocabulary size V is a 1-row broadcast crossJoin. Short
    docs (<2 tokens) yield no bigrams and return a NULL neg_logprob.
    Returns (doc_id, n_bigrams, neg_logprob)."""
    from pyspark.sql import functions as F

    arr = df.select(
        F.col("doc_id"),
        word_tokens(F.col("text")).alias("l"),
    )
    # sequence(0, -1) steps DOWN — short docs must yield empty arrays
    idx = F.when(
        F.size("l") >= 2, F.sequence(F.lit(0), F.size("l") - 2)
    ).otherwise(F.array().cast("array<int>"))
    bi = arr.select(
        "doc_id",
        F.explode(F.transform(
            idx,
            lambda i: F.struct(
                F.element_at("l", i + 1).alias("w1"),
                F.element_at("l", i + 2).alias("w2")),
        )).alias("g"),
    ).select("doc_id", "g.w1", "g.w2")
    bi_counts = bi.groupBy("w1", "w2").agg(F.count("*").alias("cb"))
    toks = df.select(
        F.explode(word_tokens(F.col("text"))).alias("tok"))
    uni = toks.groupBy("tok").agg(F.count("*").alias("cu"))
    vsize = uni.agg(F.count("*").cast("double").alias("v"))
    scored = (
        bi.join(bi_counts, ["w1", "w2"])
        .join(uni.withColumnRenamed("tok", "w1"), "w1")
        .crossJoin(F.broadcast(vsize))
        .select(
            "doc_id",
            (-F.log((F.col("cb") + 1.0)
                    / (F.col("cu") + F.col("v")))).alias("nlp"),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.round(F.avg("nlp"), 6).alias("neg_logprob"),
    )
    return (
        df.select(F.col("doc_id"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).cast("long")
            .alias("n_bigrams"),
            "neg_logprob",
        )
    )


def fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint: md5 over the normalized text
    (lowercased, whitespace collapsed, trimmed)."""
    norm = F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))
    return F.md5(norm)


def bm25_topk(df, terms: list[str], topk: int = 10):
    """BM25 (Robertson/Lucene variant) document retrieval for a fixed
    query-term set: score = Σ_t idf(t) · tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl))
    with k1 = 1.2, b = 0.75 and idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5))
    — the standard
    relevance ranking a training-data pipeline uses for targeted
    corpus search (e.g. pulling benchmark-adjacent documents for
    contamination review).

    Fully Spark-native and 10^12-doc shaped: the token explode is
    filtered to the literal query-term set inside whole-stage codegen
    (so only matching postings survive to the one (doc_id, term)
    hash-agg); N/avgdl are a 1-row aggregate broadcast-crossJoined in
    (no driver collect); per-term df and idf are a |terms|-row frame
    broadcast to the join; the final top-k is TakeOrderedAndProject —
    per-partition heaps, never a global sort. Returns (doc_id, score)
    rounded to 6dp, ties broken by doc_id."""
    from pyspark.sql import DataFrame  # noqa: F401 (signature docs)

    d = df.select(
        F.col("doc_id"),
        word_tokens(F.coalesce(F.col("text"), F.lit(""))).alias("toks"),
    )
    lens = d.select("doc_id", F.size("toks").cast("double").alias("dl"))
    stats = lens.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    postings = (
        d.select("doc_id", F.explode("toks").alias("term"))
        .filter(F.col("term").isin(list(terms)))
        .groupBy("doc_id", "term").agg(F.count("*").cast("double").alias("tf"))
    )
    docfreq = postings.groupBy("term").agg(
        F.count_distinct("doc_id").cast("double").alias("df_t"))
    idf = (
        docfreq.crossJoin(F.broadcast(stats))
        .select("term",
                F.log(F.lit(1.0)
                      + (F.col("n_docs") - F.col("df_t") + 0.5)
                      / (F.col("df_t") + 0.5)).alias("idf"))
    )
    scored = (
        postings
        .join(F.broadcast(idf), "term")
        .join(lens.crossJoin(F.broadcast(stats)), "doc_id")
        .select(
            "doc_id",
            (F.col("idf") * F.col("tf") * 2.2  # k1 + 1, k1 = 1.2
             / (F.col("tf")
                + 1.2 * (0.25 + 0.75 * F.col("dl") / F.col("avgdl"))))
            .alias("s"),
        )
        .groupBy("doc_id").agg(F.round(F.sum("s"), 6).alias("score"))
    )
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(topk)


# Unicode script classes for writing-system detection. Java regex
# spells scripts \p{IsX}; the DuckDB oracle re-derives the same counts
# with RE2's \p{X} — two independent engines, same Unicode property.
SCRIPT_PATTERNS = {
    "arabic": r"\p{IsArabic}",
    "cyrillic": r"\p{IsCyrillic}",
    "greek": r"\p{IsGreek}",
    "han": r"\p{IsHan}",
    "hangul": r"\p{IsHangul}",
    "kana": r"[\p{IsHiragana}\p{IsKatakana}]",
    "latin": r"\p{IsLatin}",
}


def script_detect(df):
    """Writing-system detection — the script-mix pass that runs beside
    (and sanity-checks) language ID in multilingual pipelines: per-doc
    character counts for seven Unicode script classes plus the
    dominant script (argmax; ties → alphabetically first; 'none' when
    no script character occurs — e.g. digits/punctuation only).

    A pure codegen regexp_count projection — no shuffle, no Python, at
    any corpus size. Mixed-script documents (a CJK page quoting a
    Latin URL, Cyrillic spam injected into English text) surface as
    multi-nonzero rows, the usual trigger for a closer quality look."""
    t = F.coalesce(F.col("text"), F.lit(""))
    counted = df.select(
        F.col("doc_id"),
        *[F.regexp_count(t, F.lit(pat)).alias(f"n_{name}")
          for name, pat in SCRIPT_PATTERNS.items()],
    )
    names = sorted(SCRIPT_PATTERNS)
    m = F.greatest(*[F.col(f"n_{n}") for n in names])
    dom = F.when(m == 0, F.lit("none"))
    for n in names:  # alphabetical order → ties pick the first name
        dom = dom.when(F.col(f"n_{n}") == m, F.lit(n))
    return counted.withColumn("dominant", dom)


def tfidf_pairs(df, threshold: float = 0.5, top_terms: int = 20):
    """All-pairs tf-idf cosine similarity above a threshold — the
    sparse-vector complement to minhash/simhash near-dup detection
    (catches rewordings those miss, since weights survive word
    reordering and partial overlap). Classic inverted-index similarity
    join (Baraglia et al. / DIMSUM lineage): never materializes the
    O(N²) pair space — candidate pairs exist only where two documents
    share a surviving term.

    The three scale valves, each a pure pre-join filter:
    - stop-term drop: terms with df > N/2 generate the
      quadratic posting-list blowup and carry ~zero idf — dropped.
    - singleton drop: df < 2 terms can never pair — dropped.
    - per-doc top-`top_terms` pruning by weight (ties → term order):
      bounds every document's posting contribution to a constant, so
      the term-keyed self-join is at worst O(df·top_terms) per term.
    Cosine is defined over the PRUNED vectors (norms computed after
    pruning) — self-similarity stays exactly 1, and the oracle
    re-derives the same definition in SQL.

    Plan: one explode + (doc, term) hash-agg, one term-df agg, two
    broadcast joins of tiny frames, one per-doc window (doc-keyed, so
    it parallelizes), one term-keyed self-join + pair hash-agg.
    Returns (doc_a, doc_b, sim) with sim rounded to 6dp."""
    postings = (
        df.select(F.col("doc_id"),
                  F.explode(word_tokens(F.coalesce(F.col("text"),
                                                   F.lit("")))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("double").alias("tf"))
    )
    n_docs = df.select(F.count("*").cast("double").alias("n_docs"))
    docfreq = (
        postings.groupBy("term")
        .agg(F.count("*").cast("double").alias("df_t"))
        .crossJoin(F.broadcast(n_docs))
        .filter((F.col("df_t") >= 2)
                & (F.col("df_t") <= 0.5 * F.col("n_docs")))
        .select("term",
                F.log(F.col("n_docs") / F.col("df_t")).alias("idf"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("w"), F.asc("term"))
    weighted = (
        postings.join(docfreq, "term")
        .select("doc_id", "term", (F.col("tf") * F.col("idf")).alias("w"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_terms)
    )
    norms = weighted.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm"))
    # unit feeds BOTH sides of the self-join — persist it so the
    # explode + two aggs + window run once, not twice (at cluster
    # depth the pruned table is ≤ top_terms·N rows, far smaller than
    # its lineage)
    unit = (weighted.join(norms, "doc_id")
            .select("doc_id", "term", (F.col("w") / F.col("nrm"))
                    .alias("u"))).persist()
    a, b = unit.alias("a"), unit.alias("b")
    return (
        a.join(b, (F.col("a.term") == F.col("b.term"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"),
                 F.col("b.doc_id").alias("doc_b"))
        .agg(F.round(F.sum(F.col("a.u") * F.col("b.u")), 6).alias("sim"))
        .filter(F.col("sim") >= threshold)
    )


BPE_SEP = "\x01"


def bpe_merges(df, n_merges: int = 5):
    """BPE vocabulary induction (Sennrich et al. 2016) as a pure
    DataFrame program — the tokenizer-training first stage: start from
    the word-frequency table with character symbols, then repeat
    `pick the most frequent adjacent symbol pair (ties: lexicographic)
    and merge it greedily left-to-right in every word`. The merge
    application is an exact greedy fold via F.aggregate (prototype-
    verified equivalent to the reference two-pointer merge), and the
    per-round winner is a 1-row broadcast crossJoin — no driver-side
    collect, the whole induction is ONE lazy DAG.

    Returns (round, merge, n): the learned merges in order with their
    weighted pair counts.

    Scale (10^12 docs): the only corpus-sized stage is the initial
    word count (one token shuffle with map-side combine); every round
    after that runs on the VOCABULARY (distinct words), which is
    millions of rows regardless of corpus size — pair counting is one
    small shuffle per round and the merge apply is a map. This is why
    BPE training on web scale is feasible at all, and the plan mirrors
    it."""
    from pyspark.sql import functions as F

    words = (
        df.select(F.explode(word_tokens(F.col("text"))).alias("w"))
        .groupBy("w").agg(F.count("*").alias("cnt"))
    )
    init_syms = F.transform(
        F.sequence(F.lit(1), F.length("w")),
        lambda i: F.substring(F.col("w"), i, F.lit(1)),
    )
    vocab = words.select("w", "cnt", init_syms.alias("syms"))
    merges = None
    for rnd in range(1, n_merges + 1):
        pair_arr = F.when(
            F.size("syms") >= 2,
            F.transform(
                F.sequence(F.lit(1), F.size("syms") - 1),
                lambda i: F.concat(F.element_at(F.col("syms"), i),
                                   F.lit(BPE_SEP),
                                   F.element_at(F.col("syms"), i + 1)),
            ),
        ).otherwise(F.array().cast("array<string>"))
        pairs = vocab.select("cnt", F.explode(pair_arr).alias("p"))
        best = (
            pairs.groupBy("p").agg(F.sum("cnt").alias("n"))
            .orderBy(F.desc("n"), F.asc("p")).limit(1)
            .select(F.lit(rnd).alias("round"),
                    F.element_at(F.split("p", BPE_SEP), 1).alias("a"),
                    F.element_at(F.split("p", BPE_SEP), 2).alias("b"),
                    "n")
        )
        merges = best if merges is None else merges.unionByName(best)
        applied = F.aggregate(
            F.col("syms"), F.lit(""),
            lambda acc, x: F.when(acc == F.lit(""), x).when(
                (F.element_at(F.split(acc, BPE_SEP), -1) == F.col("a"))
                & (x == F.col("b")),
                F.concat(
                    acc.substr(F.lit(1),
                               F.length(acc) - F.length(F.col("a"))),
                    F.col("a"), F.col("b")),
            ).otherwise(F.concat(acc, F.lit(BPE_SEP), x)),
        )
        vocab = (
            vocab.crossJoin(F.broadcast(best.select("a", "b")))
            .select("w", "cnt", F.split(applied, BPE_SEP).alias("syms"))
        )
        # each round references the previous round's vocab from TWO
        # subtrees (pair counting and merge apply) and would otherwise
        # recompute the whole lineage per round (quadratic). persist()
        # truncates it; at cluster depth this is the Iceberg
        # between-stage commit (SURVEY §4d), same as pagerank.
        vocab = vocab.persist()
    return merges.select(
        "round", F.concat("a", F.lit("+"), "b").alias("merge"),
        F.col("n").cast("long").alias("n"))


def bpe_encode(df, merges):
    """Apply learned BPE merges (bpe_merges output) to the corpus —
    the encode half of tokenizer training. The merge list is collected
    into ONE array row (broadcast crossJoin, no driver collect) and
    applied IN LEARNED ORDER as a nested fold: outer F.aggregate over
    the merges, inner F.aggregate running the exact greedy symbol
    merge. Encoding runs once per DISTINCT word (the vocabulary), then
    joins back to token positions — the same reason induction scales:
    per-word work is vocabulary-sized, corpus-sized stages are plain
    explode/join/agg.

    Returns (doc_id, n_tokens, n_pieces, enc_md5): word count, total
    BPE piece count, and md5 of the space-joined '+'-separated
    encoding in document order."""
    from pyspark.sql import functions as F

    marr = (
        merges.agg(F.array_sort(F.collect_list(
            F.struct("round", "merge"))).alias("ms"))
        .select(F.transform(
            "ms", lambda s: F.regexp_replace(s["merge"], r"\+", BPE_SEP)
        ).alias("ms"))
    )
    tokens = df.select(
        F.col("doc_id"),
        F.posexplode(word_tokens(F.col("text"))).alias("pos", "tok"),
    )
    dwords = tokens.select("tok").distinct().crossJoin(F.broadcast(marr))

    init = F.array_join(
        F.transform(F.sequence(F.lit(1), F.length("tok")),
                    lambda i: F.substring(F.col("tok"), i, F.lit(1))),
        BPE_SEP)

    def apply_one(acc, m):
        a = F.element_at(F.split(m, BPE_SEP), 1)
        b = F.element_at(F.split(m, BPE_SEP), 2)
        return F.aggregate(
            F.split(acc, BPE_SEP), F.lit(""),
            lambda a2, x2: F.when(a2 == F.lit(""), x2).when(
                (F.element_at(F.split(a2, BPE_SEP), -1) == a) & (x2 == b),
                F.concat(a2.substr(F.lit(1), F.length(a2) - F.length(a)),
                         a, b),
            ).otherwise(F.concat(a2, F.lit(BPE_SEP), x2)),
        )

    enc_col = F.regexp_replace(
        F.aggregate(F.col("ms"), init, apply_one), BPE_SEP, "+")
    enc = dwords.select("tok", enc_col.alias("enc"))
    joined = tokens.join(enc, "tok")
    return (
        joined.groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_tokens"),
             F.sum(F.size(F.split("enc", r"\+"))).cast("long")
             .alias("n_pieces"),
             F.md5(F.array_join(
                 F.transform(
                     F.array_sort(F.collect_list(F.struct("pos", "enc"))),
                     lambda s: s["enc"]),
                 " ")).alias("enc_md5"))
    )


def ccnet_buckets(scored):
    """CCNet-style per-language perplexity bucketing (Wenzek et al.
    2020 §4.3: each language's documents split into head/middle/tail
    by LM perplexity terciles; head ≈ Wikipedia-like, tail ≈ noise).
    Input is any (doc_id, lang, neg_logprob) frame — compose with
    bigram_logprob/unigram_logprob for the LM score. Lower score =
    better, rank 1 = best; bucket b of rank r among n docs is
    floor((r-1)·3/n)+1, which is exactly SQL ntile(3)
    (remainder docs land in the earlier buckets).

    Returns (doc_id, lang, neg_logprob, lm_rank, n_lang, bucket) with
    bucket in {'head','middle','tail'}.

    Scale (10^12 docs): a naive ntile() OVER (PARTITION BY lang) sorts
    each language in ONE task — a 10^11-row English partition is the
    exact single-task funnel PLANS.md forbids. Instead the global
    per-lang rank is a DISTRIBUTED two-phase prefix count (the
    token_shards machinery): repartitionByRange over (lang, score, id)
    gives ordered partitions; each ranks locally per (partition, lang)
    slice; per-slice counts (one row per partition×lang — tiny) yield
    broadcast offsets; rank = local rank + offset. The big side
    shuffles twice (range exchange + the bounded local window), both
    uniform, no per-lang funnel."""
    from pyspark.sql import Window

    spark = scored.sparkSession
    n = spark.sparkContext.defaultParallelism * 2
    part = (
        scored.repartitionByRange(n, "lang", "neg_logprob", "doc_id")
        .withColumn("_pid", F.spark_partition_id())
    )
    w_local = Window.partitionBy("_pid", "lang").orderBy(
        "neg_logprob", "doc_id")
    local = part.withColumn("_local_rank", F.row_number().over(w_local))
    counts = local.groupBy("_pid", "lang").agg(
        F.count("*").alias("_cnt"))
    w_off = (Window.partitionBy("lang").orderBy("_pid")
             .rowsBetween(Window.unboundedPreceding, -1))
    offsets = counts.withColumn(
        "_offset", F.coalesce(F.sum("_cnt").over(w_off), F.lit(0)))
    totals = counts.groupBy("lang").agg(
        F.sum("_cnt").alias("n_lang"))
    ranked = (
        local
        .join(F.broadcast(offsets.select("_pid", "lang", "_offset")),
              ["_pid", "lang"])
        .join(F.broadcast(totals), "lang")
        .withColumn("lm_rank", F.col("_local_rank") + F.col("_offset"))
    )
    b = (F.floor((F.col("lm_rank") - 1) * 3 / F.col("n_lang"))
         + 1).cast("int")
    bucket = F.when(b == 1, "head").when(b == 2, "middle").otherwise("tail")
    return ranked.select(
        F.col("doc_id"), F.col("lang"), F.col("neg_logprob"),
        F.col("lm_rank").cast("long").alias("lm_rank"),
        F.col("n_lang").cast("long").alias("n_lang"),
        bucket.alias("bucket"),
    )


def zipf_fit(df):
    """Zipf's-law fit over the corpus token frequency distribution:
    the least-squares slope/intercept of ln(freq) on ln(rank) for the
    100 most frequent tokens — the corpus-health diagnostic every
    web-text audit runs (natural language ~ slope -1; template/spam
    corpora flatten, boilerplate-heavy ones steepen). Uses the ANSI
    regr_slope / regr_intercept aggregates (JVM-side, one pass).

    Returns ONE row: (n_top, zipf_slope, zipf_intercept).

    Scale (10^12 docs): token counting is one uniform gram-key shuffle
    with map-side partials; the global top-N is TakeOrderedAndProject
    (per-partition heaps, no global sort); the rank window then runs
    over 100 rows — bounded, single cheap task by construction."""
    from pyspark.sql import Window

    toks = df.select(F.explode(
        word_tokens(F.coalesce(F.col("text"), F.lit("")))).alias("tok"))
    counts = toks.groupBy("tok").agg(F.count("*").alias("freq"))
    top = counts.orderBy(F.desc("freq"), "tok").limit(100)
    w = Window.orderBy(F.desc("freq"), "tok")
    ranked = top.withColumn("r", F.row_number().over(w))
    return ranked.agg(
        F.count("*").cast("long").alias("n_top"),
        F.round(F.regr_slope(F.log("freq"), F.log("r")), 6)
        .alias("zipf_slope"),
        F.round(F.regr_intercept(F.log("freq"), F.log("r")), 6)
        .alias("zipf_intercept"),
    )


# One "sentence" = a run of non-terminators plus its trailing run of
# terminators. No lookarounds, so the identical pattern runs on Java
# (Spark) and RE2 (DuckDB); an unmatched leading terminator run
# (ellipsis openers) is skipped identically by both engines.
SENTENCE_PATTERN = r"[^.!?]+[.!?]*"


def sentence_split(df):
    """Rule-based sentence segmentation — the pass before per-sentence
    dedup, contamination checks, and translation-pair mining: cut text
    at sentence terminators (. ! ?), keeping the terminators with
    their sentence, and emit one row per non-blank sentence:

      (doc_id, sent_id, sentence, n_words)

    sent_id is the 0-based position within the document; sentence is
    whitespace-trimmed. A pure codegen regexp_extract_all + posexplode
    — per-row work linear in text length, no shuffle introduced, so it
    pipelines into whatever scan feeds it at any corpus size."""
    sents = F.filter(
        F.transform(
            F.regexp_extract_all(
                F.coalesce(F.col("text"), F.lit("")),
                F.lit(SENTENCE_PATTERN), F.lit(0)),
            # NOT F.trim: SQL trim strips 0x20 only, so a sentence of
            # bare newlines/tabs would survive the blank filter
            lambda s: F.regexp_replace(s, r"^\s+|\s+$", "")),
        lambda s: s != "")
    return df.select(
        F.col("doc_id"),
        F.posexplode(sents).alias("sent_id", "sentence"),
    ).select(
        "doc_id", "sent_id", "sentence",
        F.size(F.filter(F.split(F.col("sentence"), r"\s+"),
                        lambda t: t != "")).alias("n_words"),
    )


def oov_rate(df, vocab_size: int = 500):
    """Tokenizer-coverage audit: build the top-`vocab_size` corpus
    vocabulary (by occurrence count, ties → lexicographically first
    token, so the cut is deterministic) and report, per document, the
    fraction of token OCCURRENCES falling outside it:

      (doc_id, n_tokens, n_oov, oov_rate)   oov_rate 6dp

    High-OOV documents are the ones a fixed-vocab tokenizer shreds
    into bytes — the standard pre-tokenizer-training health check.

    Scale shape: one token explode feeds a vocab-sized count agg; the
    top-V cut is orderBy+limit, which compiles to TakeOrderedAndProject
    (per-partition heaps, no global sort), and the resulting V-row
    vocab broadcasts back onto per-(doc, token) counts — the only
    corpus-keyed shuffle is the final doc_id aggregation."""
    toks = df.select(
        F.col("doc_id"),
        F.explode(word_tokens(F.col("text"))).alias("tok"),
    )
    doc_tok = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("c"))
    vocab = (doc_tok.groupBy("tok").agg(F.sum("c").alias("cnt"))
             .orderBy(F.desc("cnt"), F.asc("tok")).limit(vocab_size)
             .select("tok", F.lit(True).alias("in_vocab")))
    return (doc_tok.join(F.broadcast(vocab), "tok", "left")
            .groupBy("doc_id")
            .agg(F.sum("c").alias("n_tokens"),
                 F.sum(F.when(F.col("in_vocab").isNull(), F.col("c"))
                       .otherwise(F.lit(0))).alias("n_oov"))
            .withColumn("oov_rate",
                        F.round(F.col("n_oov") / F.col("n_tokens"), 6)))


def kl_drift(a, b, top_n: int = 20):
    """Corpus-drift diagnostic: token-level contributions to
    KL(P_a || P_b) between two corpus slices (crawl dumps, time
    windows, before/after a filter change), add-one smoothed over the
    UNION vocabulary:

        contrib(t) = p_a(t) · ln(p_a(t) / p_b(t))

    Returns the top_n largest positive contributors — the tokens that
    became disproportionately common in slice A — as (tok, cnt_a,
    cnt_b, contrib 6dp), ordered contrib desc / tok asc. (The full KL
    is the sum over all tokens; the per-token view is what you read
    when a dump smells different.)

    Scale shape: each slice collapses to a vocab-sized count table
    (map-side partials), full-outer-joined on the token; totals and
    the union-vocab size ride 1-row broadcasts. The top-n cut is
    orderBy+limit (per-partition heaps)."""
    def counts(df, name):
        return (df.select(F.explode(word_tokens(F.col("text")))
                          .alias("tok"))
                .groupBy("tok").agg(F.count("*").alias(name)))

    ca, cb = counts(a, "cnt_a"), counts(b, "cnt_b")
    u = (ca.join(cb, "tok", "full_outer")
         .select("tok",
                 F.coalesce("cnt_a", F.lit(0)).alias("cnt_a"),
                 F.coalesce("cnt_b", F.lit(0)).alias("cnt_b")))
    stats = u.agg(F.sum("cnt_a").cast("double").alias("tot_a"),
                  F.sum("cnt_b").cast("double").alias("tot_b"),
                  F.count("*").cast("double").alias("v"))
    scored = u.crossJoin(F.broadcast(stats)).select(
        "tok", "cnt_a", "cnt_b",
        F.round(
            ((F.col("cnt_a") + 1.0) / (F.col("tot_a") + F.col("v")))
            * F.log(((F.col("cnt_a") + 1.0) / (F.col("tot_a") + F.col("v")))
                    / ((F.col("cnt_b") + 1.0)
                       / (F.col("tot_b") + F.col("v")))), 6)
        .alias("contrib"))
    return (scored.filter(F.col("contrib") > 0)
            .orderBy(F.desc("contrib"), F.asc("tok")).limit(top_n))


def char_entropy(df):
    """Character-distribution Shannon entropy (bits) per document —
    the cheap garbage detector that catches what token filters miss:
    base64 blobs and hex dumps score HIGH (flat distribution over a
    wide alphabet), keyboard-mash and repeated-char padding score LOW;
    natural language sits in a recognizable band (~4 bits for
    English). Returns (doc_id, n_chars, entropy) with entropy 6dp over
    the lowercased character histogram.

    Scale shape: characters explode once, collapse immediately into
    per-(doc, char) counts (≤ alphabet-size rows per doc) with
    map-side partials; entropy is a per-doc sum over that compact
    frame — the only shuffle key is doc_id. -Σ (c/n)·log2(c/n) is a
    sum over ≤ |alphabet| grouped terms, far outside 6dp
    reassociation error."""
    chars = df.select(
        F.col("doc_id"),
        F.explode(F.split(F.lower(F.coalesce(F.col("text"), F.lit(""))),
                          "")).alias("ch"),
    ).filter(F.col("ch") != "")
    counts = chars.groupBy("doc_id", "ch").agg(F.count("*").alias("c"))
    totals = counts.groupBy("doc_id").agg(F.sum("c").alias("n_chars"))
    return (counts.join(totals, "doc_id")
            .groupBy("doc_id")
            .agg(F.first("n_chars").alias("n_chars"),
                 F.round(-F.sum((F.col("c") / F.col("n_chars"))
                                * F.log2(F.col("c") / F.col("n_chars"))), 6)
                 .alias("entropy"))
            .select("doc_id", F.col("n_chars").cast("long").alias("n_chars"),
                    "entropy"))


def compression_ratio(df):
    """Tokenizer-economics column: UTF-8 bytes per BPE-ish token —
    the compute-cost proxy that decides how much a document really
    costs to train on (CJK and emoji-heavy text carries more bytes
    per token; whitespace-starved markup inflates tokens per byte).
    Returns (doc_id, n_bytes, n_bpe_tokens, bytes_per_token 6dp); a
    pure codegen projection, no shuffle."""
    t = F.coalesce(F.col("text"), F.lit(""))
    n_bytes = F.octet_length(t)
    n_toks = bpe_token_count(t)
    return df.select(
        F.col("doc_id"),
        n_bytes.cast("long").alias("n_bytes"),
        n_toks.cast("long").alias("n_bpe_tokens"),
        F.round(n_bytes / F.greatest(n_toks, F.lit(1)), 6)
        .alias("bytes_per_token"),
    )


def winnow_pairs(df, min_shared: int = 3, max_df: int = 20):
    """Partial-overlap pair detection over winnowing fingerprints
    (Schleimer et al. 2003, the MOSS algorithm's second half) over
    winnow_fingerprints' default 8-grams and 4-wide windows: two
    documents sharing >= min_shared selected fingerprints overlap in
    actual text spans — the plagiarism/quotation detector that
    complements whole-doc minhash. Returns (id_a, id_b, n_shared),
    id_a < id_b, ordered.

    The max_df cap drops fingerprints present in more than max_df
    documents BEFORE the self-join — ubiquitous boilerplate grams
    otherwise quadratically explode exactly like tf-idf stop terms
    (same cure as tfidf_pairs' df band). With the cap, per-fp join
    fan-out is bounded at max_df², and the join key (md5 fingerprint)
    is uniform, so the shuffle spreads at any corpus size."""
    fps = winnow_fingerprints(df)
    fp_df = fps.groupBy("fp").agg(F.count("*").alias("df"))
    rare = fps.join(fp_df.filter(F.col("df") <= max_df).select("fp"), "fp")
    a = rare.select(F.col("fp"), F.col("doc_id").alias("id_a"))
    b = rare.select(F.col("fp"), F.col("doc_id").alias("id_b"))
    pairs = a.join(b, "fp").filter(F.col("id_b") > F.col("id_a"))
    return (pairs.groupBy("id_a", "id_b")
            .agg(F.count("*").alias("n_shared"))
            .filter(F.col("n_shared") >= min_shared)
            .orderBy("id_a", "id_b"))


def corpus_datasheet(df):
    """The datasheet row per language slice — the summary table a
    dataset card publishes and a mixing config consumes: doc and
    token counts, token-length spread, and share of corpus tokens.

      (lang, n_docs, n_tokens, min_tokens, max_tokens,
       avg_tokens 6dp, token_share 6dp)

    One language-keyed aggregation with map-side partials plus a
    1-row total broadcast — deliberately percentile-free (exact
    quantile semantics differ across engines; min/max/avg are
    portable and are what mixing weights actually use)."""
    per_doc = df.select(
        F.col("lang"),
        token_count(F.col("text")).alias("n"))
    agg = per_doc.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n").cast("long").alias("n_tokens"),
        F.min("n").cast("long").alias("min_tokens"),
        F.max("n").cast("long").alias("max_tokens"),
        F.round(F.avg("n"), 6).alias("avg_tokens"))
    total = agg.agg(F.sum("n_tokens").cast("double").alias("tot"))
    return (agg.crossJoin(F.broadcast(total))
            .select("lang", "n_docs", "n_tokens", "min_tokens",
                    "max_tokens", "avg_tokens",
                    F.round(F.col("n_tokens") / F.col("tot"), 6)
                    .alias("token_share")))


def bm25_batch(df, queries, topk: int = 5):
    """Batch BM25 retrieval — bm25_topk generalized from one ad-hoc
    term set to a QUERY TABLE, the serving shape of corpus search
    (benchmark-contamination review sweeps, targeted data pulls run
    hundreds of queries per pass): returns the top-k docs per query
    as (query_id, doc_id, score, rank), score 6dp, ties → doc_id.

    Scale shape: the query table is small by assumption and rides
    broadcasts end to end — the union of query terms semi-join
    filters the token explode map-side, so only matching postings
    reach the one (doc_id, term) hash-agg; idf is a |terms|-row
    broadcast; per-(query, doc) scores aggregate with map-side
    partials and the per-query top-k compiles to WindowGroupLimit
    (partial heaps), never a global sort. df/idf use the corpus-wide
    document frequency, identical to bm25_topk's definition."""
    q = queries.select(
        F.col("query_id"),
        F.explode(word_tokens(F.col("query_text"))).alias("term"),
    ).distinct()
    all_terms = q.select("term").distinct()
    d = df.select(
        F.col("doc_id"),
        word_tokens(F.col("text")).alias("toks"))
    lens = d.select("doc_id", F.size("toks").cast("double").alias("dl"))
    stats = lens.agg(F.count("*").cast("double").alias("n_docs"),
                     F.avg("dl").alias("avgdl"))
    postings = (
        d.select("doc_id", F.explode("toks").alias("term"))
        .join(F.broadcast(all_terms), "term")
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("double").alias("tf")))
    docfreq = postings.groupBy("term").agg(
        F.count_distinct("doc_id").cast("double").alias("df_t"))
    idf = (docfreq.crossJoin(F.broadcast(stats))
           .select("term",
                   F.log(F.lit(1.0)
                         + (F.col("n_docs") - F.col("df_t") + 0.5)
                         / (F.col("df_t") + 0.5)).alias("idf")))
    scored = (
        postings
        .join(F.broadcast(idf), "term")
        .join(F.broadcast(q), "term")
        .join(lens.crossJoin(F.broadcast(stats)), "doc_id")
        .select(
            "query_id", "doc_id",
            (F.col("idf") * F.col("tf") * 2.2  # k1 + 1, k1 = 1.2
             / (F.col("tf")
                + 1.2 * (0.25 + 0.75 * F.col("dl") / F.col("avgdl"))))
            .alias("s"))
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum("s"), 6).alias("score")))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= topk)
            .select("query_id", "doc_id", "score",
                    F.col("rank").cast("int").alias("rank")))


def host_dup_rate(pages):
    """Per-host duplication diagnostics: the share of a host's
    documents whose normalized fingerprint appears MORE THAN ONCE in
    the whole corpus (cross-host duplicates count — mirror sites show
    up on both ends). High-rate hosts are mirrors/scrapers the
    frontier should deprioritize BEFORE dedup spends work on them.

      (host, n_docs, n_dup_docs, dup_rate 6dp)

    Scale shape: fingerprints (md5 of whitespace-normalized text) are
    uniform keys; ONE fp-count agg + a fp-keyed join back (dup set
    scales with the corpus — never broadcast) + ONE host agg."""
    fp = F.md5(F.trim(F.regexp_replace(
        F.lower(F.coalesce(F.col("text"), F.lit(""))), r"\s+", " ")))
    p = pages.select(F.col("host"),
                     F.col("doc_id"), fp.alias("fp"))
    counts = p.groupBy("fp").agg(F.count("*").alias("n_fp"))
    flagged = p.join(counts, "fp").select(
        "host", "doc_id", (F.col("n_fp") > 1).alias("is_dup"))
    return (flagged.groupBy("host")
            .agg(F.count("*").alias("n_docs"),
                 F.sum(F.col("is_dup").cast("long")).alias("n_dup_docs"))
            .select("host", "n_docs",
                    F.col("n_dup_docs").cast("long").alias("n_dup_docs"),
                    F.round(F.col("n_dup_docs") / F.col("n_docs"), 6)
                    .alias("dup_rate")))


def flesch_kincaid(df):
    """Flesch–Kincaid grade level — the readability feature
    educational-quality classifiers (FineWeb-Edu-style) lean on:

      grade = 0.39·(words/sentences) + 11.8·(syllables/words) − 15.59

    with rule-based counts: words = whitespace tokens, sentences =
    terminator-run count (min 1), syllables = vowel-group count per
    the standard heuristic (consecutive [aeiouy] = one syllable, min
    1 per word — approximated corpus-wide as max(vowel groups,
    words)). Returns (doc_id, n_words, n_sentences, n_syllables,
    fk_grade 6dp); blank docs report grade NULL.

    Pure codegen regexp counting — no shuffle; the same regexes run
    in the SQL oracle."""
    t = F.coalesce(F.col("text"), F.lit(""))
    words = token_count(t)
    sents = F.greatest(
        F.size(F.regexp_extract_all(t, F.lit(r"[.!?]+"), F.lit(0))),
        F.lit(1))
    vgroups = F.size(F.regexp_extract_all(
        F.lower(t), F.lit(r"[aeiouy]+"), F.lit(0)))
    syll = F.greatest(vgroups, words)
    grade = F.when(
        words > 0,
        F.round(0.39 * (words.cast("double") / sents)
                + 11.8 * (syll.cast("double") / words) - 15.59, 6))
    return df.select(
        F.col("doc_id"),
        words.cast("long").alias("n_words"),
        sents.cast("long").alias("n_sentences"),
        syll.cast("long").alias("n_syllables"),
        grade.alias("fk_grade"))


def pmi_collocations(df, min_count: int = 5, top_n: int = 50):
    """PMI collocation mining (Church & Hanks 1990): adjacent word
    pairs whose co-occurrence beats independence,

        pmi(a,b) = ln( (c_ab/B) / ((c_a/T)·(c_b/T)) )

    over corpus counts (T tokens, B bigrams), reported for pairs with
    c_ab >= min_count as the top_n by (pmi desc, a asc, b asc):
    (tok_a, tok_b, c_ab, pmi 6dp). The classic phrase detector that
    feeds tokenizer merge rules and multi-word stop lists.

    Scale shape: bigrams come from a per-row array transform (no
    self-join, no window over the corpus) and collapse immediately in
    ONE (a, b)-keyed count agg; unigram counts are a vocab-sized agg
    broadcast back; totals ride 1-row broadcasts; the top-n is
    orderBy+limit (per-partition heaps)."""
    # materialize the token array as a COLUMN before indexing it:
    # element_at(<expression array>, i) inside an interpreted transform
    # lambda re-runs the whole split+filter once per position (the
    # word_ngrams bug class, round 6); a bound column attribute is a
    # cheap reference. Also lets the unigram explode reuse the array.
    arr = df.select(word_tokens(F.col("text")).alias("w"))
    wc = F.col("w")
    bi = F.when(
        F.size(wc) >= 2,
        F.transform(F.sequence(F.lit(1), F.size(wc) - 1),
                    lambda i: F.struct(
                        F.element_at(wc, i).alias("a"),
                        F.element_at(wc, i + 1).alias("b")))
    ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
    bigrams = arr.select(F.explode(bi).alias("p")) \
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
    cab = bigrams.groupBy("a", "b").agg(F.count("*").alias("c_ab"))
    uni = arr.select(F.explode(wc).alias("tok")) \
        .groupBy("tok").agg(F.count("*").alias("c"))
    tot = uni.agg(F.sum("c").cast("double").alias("t"))
    btot = cab.agg(F.sum("c_ab").cast("double").alias("bt"))
    scored = (
        cab.filter(F.col("c_ab") >= min_count)
        .join(F.broadcast(uni.withColumnRenamed("tok", "a")
                          .withColumnRenamed("c", "c_a")), "a")
        .join(F.broadcast(uni.withColumnRenamed("tok", "b")
                          .withColumnRenamed("c", "c_b")), "b")
        .crossJoin(F.broadcast(tot)).crossJoin(F.broadcast(btot))
        .select(
            F.col("a").alias("tok_a"), F.col("b").alias("tok_b"),
            F.col("c_ab"),
            F.round(F.log((F.col("c_ab") / F.col("bt"))
                          / ((F.col("c_a") / F.col("t"))
                             * (F.col("c_b") / F.col("t")))), 6)
            .alias("pmi")))
    return (scored.orderBy(F.desc("pmi"), F.asc("tok_a"), F.asc("tok_b"))
            .limit(top_n))


def tokenizer_fertility(df):
    """Tokenizer fertility per language — UTF-8 bytes per BPE-ish
    token aggregated by language slice, the number that tells a
    multilingual mixing config which languages the tokenizer is
    taxing (high bytes/token = the tokenizer shreds that script):

      (lang, n_docs, n_bytes, n_bpe_tokens, bytes_per_token 6dp)

    Exact integer sums per language, ONE division at the end — one
    lang-keyed agg with map-side partials, nothing else."""
    t = F.coalesce(F.col("text"), F.lit(""))
    return (df.select(F.col("lang"),
                      F.octet_length(t).alias("nb"),
                      bpe_token_count(t).alias("nt"))
            .groupBy("lang")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("nb").cast("long").alias("n_bytes"),
                 F.sum("nt").cast("long").alias("n_bpe_tokens"))
            .withColumn("bytes_per_token",
                        F.round(F.col("n_bytes")
                                / F.greatest(F.col("n_bpe_tokens"),
                                             F.lit(1)), 6)))


def segment_langs(df):
    """Per-sentence language segmentation (CCNet, Wenzek et al. 2020:
    language id runs on SEGMENTS so mixed-language pages — boilerplate
    in one language, content in another, code-switched forums — can be
    rescued per-part instead of dropped whole). Sentences come from
    sentence_split; each scores with lang_guess; the document rolls up:

      (doc_id, n_segments, n_langs, dominant_lang, dominant_frac,
       mixed)

    dominant_lang = the most frequent segment language (ties break to
    the smaller language code, matching lang_guess's own rule);
    dominant_frac its share of segments (6dp); mixed = more than one
    distinct language among segments. Documents with no sentences
    emit (0, 0, 'und', 0.0, false) — visible, not dropped.

    Scale shape: sentence explode → pure codegen scoring (lang_guess's
    single-appearance argmax struct, no 3^n when-fold) → TWO doc-keyed
    aggregations ((doc, lang) counts with map-side partials, then the
    doc rollup where dominance is ONE min(struct(-count, lang))) — no
    windows, no joins beyond the final left join back to the doc
    spine for empty documents."""
    sents = sentence_split(df)
    scored = sents.select(
        "doc_id", lang_guess(F.col("sentence")).alias("lang"))
    counts = scored.groupBy("doc_id", "lang").agg(
        F.count("*").alias("c"))
    per = counts.groupBy("doc_id").agg(
        F.sum("c").alias("n_segments"),
        F.count("*").alias("n_langs"),
        F.min(F.struct((-F.col("c")).alias("nc"),
                       F.col("lang").alias("lang"))).alias("w"),
    )
    base = df.select(F.col("doc_id"))
    return base.join(per, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_segments", F.lit(0)).cast("long")
        .alias("n_segments"),
        F.coalesce("n_langs", F.lit(0)).cast("long").alias("n_langs"),
        F.coalesce(F.col("w.lang"), F.lit("und")).alias("dominant_lang"),
        F.coalesce(
            F.round((-F.col("w.nc"))
                    / F.greatest(F.col("n_segments"), F.lit(1)), 6),
            F.lit(0.0)).alias("dominant_frac"),
        F.coalesce(F.col("n_langs") > 1, F.lit(False)).alias("mixed"),
    )


def langid_confusion(df):
    """Evaluation of the language-id component against labeled data —
    the confusion matrix + per-label accuracy a pipeline owner watches
    before trusting lang-based routing (mT5-style sampling, per-lang
    perplexity buckets) at corpus scale. One row per (label,
    predicted) pair that occurs:

      (label, predicted, n_docs, label_total, recall)

    recall = n_docs / label_total (6dp) — the diagonal rows are the
    per-language recall; off-diagonal rows show where the guesser
    leaks.

    Scale shape: prediction is pure codegen (lang_guess's argmax
    struct); ONE (label, predicted) aggregation with map-side partials
    (output is |langs|² rows at most) plus a label-keyed total join —
    both tiny. No windows, nothing corpus-sized after the scan."""
    scored = df.select(
        F.col("lang").alias("label"),
        lang_guess(F.col("text")).alias("predicted"))
    cell = scored.groupBy("label", "predicted").agg(
        F.count("*").alias("n_docs"))
    totals = cell.groupBy("label").agg(
        F.sum("n_docs").alias("label_total"))
    return cell.join(totals, "label").select(
        "label", "predicted",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("label_total").cast("long").alias("label_total"),
        F.round(F.col("n_docs") / F.col("label_total"), 6)
        .alias("recall"))
