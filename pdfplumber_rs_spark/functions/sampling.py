"""Data-mixing / batching operators for training-data pipelines.

- stratified_take: deterministic per-stratum quota sampling (domain /
  language mixing weights) — hash-ordered row_number per stratum, so
  the sample is reproducible and SQL-expressible (no RNG state).
- shard_by_token_budget: contiguous token-budget sharding (the
  sequence-packing / shard-manifest pass before tokenizer workers) via
  a DISTRIBUTED two-phase prefix sum — a naive global window would
  funnel 10^12 rows through one task; here partition-local cumsums get
  per-partition offsets from a tiny broadcast side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .text import token_count, word_tokens


def sliding_chunks(docs: DataFrame, chunk_size: int = 128,
                   stride: int = 96) -> DataFrame:
    """Per-document overlapping token windows — the context-window
    chunker for fine-tuning / embedding pipelines (HF `return_
    overflowing_tokens` semantics: starts at 0, stride, 2·stride, …
    while start < n_tokens, each chunk up to chunk_size tokens, the
    last one short). Unlike pack_sequences (corpus-level concat for
    pretraining), chunks never cross document boundaries.

    Plan: tokens → sequence(0, n−1, stride) start array → ONE explode
    whose fan-out equals the output row count (the minimum possible) →
    codegen slice/md5 per chunk. No shuffle, no window, no state —
    a pure scan-side projection at any corpus size. Empty documents
    emit no rows. Returns (doc_id, chunk_id, start, n_tokens,
    chunk_md5) where chunk_md5 hashes the space-joined tokens."""
    toks = word_tokens(F.col("text"))
    n = F.size(toks)
    out = (docs
           .select(F.col("doc_id"), toks.alias("toks"))
           .filter(F.size("toks") > 0)
           .select(
               "doc_id", "toks",
               F.posexplode(F.sequence(F.lit(0), F.size("toks") - 1,
                                       F.lit(stride)))
               .alias("chunk_id", "start")))
    chunk = F.slice(F.col("toks"), F.col("start") + 1, chunk_size)
    return out.select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.col("start").cast("long").alias("start"),
        F.size(chunk).cast("long").alias("n_tokens"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_md5"),
    )


def pack_sequences(docs: DataFrame, seq_len: int) -> DataFrame:
    """Concat-and-chunk sequence packing — the LM-pretraining batching
    step: conceptually concatenate every document's tokens in id order
    and cut the stream into fixed `seq_len` training sequences. Emits
    one row per (sequence, document) overlap:

      (seq_id, doc_id, doc_offset, seq_offset, n_tokens)

    doc_offset = where this slice starts inside the document,
    seq_offset = where it lands inside the sequence; a document
    crossing a boundary contributes a row to each sequence it touches
    (the attention-mask / document-boundary metadata packers need).
    Every sequence except the last is exactly seq_len tokens.

    Scale shape: token offsets come from shard_by_token_budget's
    DISTRIBUTED two-phase prefix sum (no global window), then each doc
    explodes into ceil(span/seq_len) rows — fan-out proportional to
    the OUTPUT size, never a cross join; zero-token docs are filtered
    before the sequence explode (the descending-F.sequence crash
    class)."""
    cum = shard_by_token_budget(docs, seq_len)
    spans = cum.filter(F.col("n_tokens") > 0).select(
        F.col("doc_id"),
        (F.col("cum_tokens") - F.col("n_tokens")).alias("tok_start"),
        F.col("cum_tokens").alias("tok_end"),
    )
    seqs = spans.select(
        "doc_id", "tok_start", "tok_end",
        F.explode(F.sequence(
            F.floor(F.col("tok_start") / seq_len),
            F.floor((F.col("tok_end") - 1) / seq_len),
        )).alias("seq_id"),
    )
    lo = F.greatest(F.col("tok_start"), F.col("seq_id") * seq_len)
    hi = F.least(F.col("tok_end"), (F.col("seq_id") + 1) * seq_len)
    return seqs.select(
        F.col("seq_id").cast("long").alias("seq_id"),
        F.col("doc_id"),
        (lo - F.col("tok_start")).cast("long").alias("doc_offset"),
        (lo - F.col("seq_id") * seq_len).cast("long").alias("seq_offset"),
        (hi - lo).cast("long").alias("n_tokens"),
    )


def stratified_take(df: DataFrame, strata_col: str, quota: int) -> DataFrame:
    """Keep at most `quota` rows per stratum, chosen by md5(id) order
    (a uniform, reproducible pseudo-random draw — the shape of
    language/domain mixing with per-stratum caps). One shuffle keyed on
    the stratum; skewed strata are bounded by the quota itself after
    the rank filter. Output adds `sample_rank` (1-based within
    stratum)."""
    w = Window.partitionBy(strata_col).orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id"))
    return (
        df.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= quota)
    )


def hash_split(df: DataFrame, key_col: str = "doc_id",
               weights: tuple[float, ...] = (0.98, 0.01, 0.01),
               names: tuple[str, ...] = ("train", "val", "test")) -> DataFrame:
    """Deterministic train/val/test assignment by key hash — the
    standard leakage-safe corpus split: every row with the same key
    lands in the same split on any cluster size, any partitioning, any
    rerun (no RNG state, no global sort). The key is hashed to one of
    10,000 buckets via the first 8 hex digits of md5 (uniform on
    [0, 2^32)), and cumulative weight boundaries carve bucket ranges —
    so holdout membership survives incremental re-crawls: new
    documents never move old ones across splits.

    Plan shape: a pure per-row codegen projection — NO shuffle, NO
    aggregation; the split is a function of the row alone, which is
    what makes it safe at 10^12 rows. Output adds (bucket, split).
    Dedup before splitting (hash_split assigns duplicates of the same
    key to the same split, but near-duplicates with different keys
    still leak — run minhash dedup first)."""
    if len(weights) != len(names):
        raise ValueError("weights and names must pair 1:1")
    total = float(sum(weights))
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col(key_col).cast("string")), 1, 8),
               16, 10).cast("long"),
        F.lit(10000))
    edge = 0.0
    expr = None
    for w, name in zip(weights, names):
        edge += w / total * 10000
        cond = bucket < F.lit(int(round(edge)))
        expr = (F.when(cond, name) if expr is None
                else expr.when(cond, name))
    out = expr.otherwise(names[-1])  # float-edge guard: last split
    return df.withColumn("bucket", bucket).withColumn("split", out)


def mixture_plan(docs: DataFrame, weights: dict[str, float],
                 budget_tokens: int) -> DataFrame:
    """Data-recipe planning (the Pile / LLaMA mixture table): given
    target mixture weights per source and a total token budget,
    compute what each source must contribute and how many epochs
    (passes) over it that implies — epochs > 1 flags up-sampled
    sources (LLaMA trained Wikipedia/Books ~2.4 epochs; >>1 risks
    memorization), epochs << 1 means the source is mostly unused.
    Sources absent from `weights` get weight 0 and appear with
    target 0 — visible, not silently dropped.

    Returns (source, n_docs, n_tokens, weight, target_tokens, epochs).

    Scale shape: ONE source-keyed count/sum aggregation over the
    corpus (map-side partials; source cardinality is tiny) — the
    weight table rides as a literal map inside the task binary; the
    weight normalizer is a Python-side constant. No joins, no windows,
    no second pass."""
    total_w = float(sum(weights.values())) or 1.0
    wmap = F.create_map(*[F.lit(x) for kv in weights.items() for x in kv])
    per = docs.groupBy(F.col("source")).agg(
        F.count("*").alias("n_docs"),
        F.sum(token_count(F.col("text"))).alias("n_tokens"),
    )
    w = F.coalesce(wmap[F.col("source")], F.lit(0.0))
    target = F.round(F.lit(float(budget_tokens)) * w / total_w, 0)
    return per.select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round(w / total_w, 6).alias("weight"),
        target.cast("long").alias("target_tokens"),
        F.round(target / F.greatest(F.col("n_tokens"), F.lit(1)), 6)
        .alias("epochs"),
    )


def epoch_shuffle(df: DataFrame, epoch: int = 0,
                  n_shards: int = 8) -> DataFrame:
    """Deterministic training-order shuffle: every epoch permutes the
    corpus by md5(id:epoch) — reproducible on any cluster size, any
    partitioning, any rerun (no RNG state), and uncorrelated across
    epochs (the salt changes the permutation wholesale — the property
    data-order ablations need). Each row gets its shard (uniform on
    [0, n_shards) via the same first-8-hex-digits trick as hash_split)
    and its 1-based position within the shard's order.

    Returns (doc_id, order_key, shard, pos).

    Scale shape: the key and shard are pure per-row codegen; the only
    shuffle is the shard-keyed exchange, balanced by construction
    (md5 is uniform — no skew, no salting needed). The within-shard
    row_number is a window PARTITIONED BY shard — n_shards independent
    sorts of corpus/n_shards rows each, which is exactly the work of
    materializing a training order; writers emit one ordered shard
    file per partition. Nothing global: no orderBy over the corpus,
    no driver collect."""
    key = F.md5(F.concat_ws(":", F.col("doc_id").cast("string"),
                            F.lit(str(epoch))))
    shard = F.pmod(F.conv(F.substring(key, 1, 8), 16, 10).cast("long"),
                   F.lit(n_shards))
    w = Window.partitionBy("shard").orderBy("order_key", "doc_id")
    return (df.select(F.col("doc_id"), key.alias("order_key"),
                      shard.alias("shard"))
            .withColumn("pos", F.row_number().over(w).cast("long")))


def temperature_sample(df: DataFrame, strata_col: str, alpha: float = 0.7,
                       target: int = 1000) -> DataFrame:
    """Temperature-based mixture sampling (the mT5/XLM-R multilingual
    rebalancing rule, Conneau et al. 2020 §3.1): stratum s is drawn
    with probability p_s ∝ n_s^alpha — alpha < 1 UP-samples small
    strata (rare languages/domains) and flattens head-heavy corpora —
    so for a target budget of `target` documents each doc in s is kept
    with rate min(1, target·p_s/n_s). The draw is a deterministic
    md5-derived uniform per doc (reproducible, SQL-expressible, no RNG
    state; the same coin at any cluster size).

    Plan: one stratum groupBy (stratum-cardinality output), the rate
    table broadcast back, then a pure codegen filter — one tiny
    shuffle regardless of corpus size. Returns (id, stratum, rate,
    kept)."""
    counts = df.groupBy(strata_col).agg(F.count("*").alias("n_s"))
    mass = counts.agg(
        F.sum(F.pow(F.col("n_s").cast("double"), alpha)).alias("z"))
    rates = (
        counts.crossJoin(F.broadcast(mass))
        .select(
            strata_col,
            F.least(
                F.lit(1.0),
                F.lit(float(target))
                * F.pow(F.col("n_s").cast("double"), alpha)
                / F.col("z") / F.col("n_s"),
            ).alias("rate"),
        )
    )
    u = (F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
                16, 10).cast("double") / F.lit(4294967296.0))
    return (
        df.join(F.broadcast(rates), strata_col)
        .select(
            F.col("doc_id"),
            F.col(strata_col),
            F.round("rate", 6).alias("rate"),
            (u < F.col("rate")).alias("kept"),
        )
    )


def shard_by_token_budget(docs: DataFrame, budget: int,
                          num_partitions: int | None = None) -> DataFrame:
    """Assign documents (in deterministic id order) to contiguous
    shards of ~`budget` tokens: shard = floor(tokens_before / budget).
    A document starting inside shard k belongs to shard k even if it
    crosses the boundary (next-fit sharding — the manifest convention
    for feeding fixed-budget tokenizer/packing workers).

    Scale shape: global prefix sum WITHOUT a global window —
    repartitionByRange(id) gives ordered partitions, each computes its
    local cumsum; per-partition totals (one row per partition) get
    offsets via a single tiny window and broadcast back. The big side
    shuffles once (the range partition); no single-task bottleneck.

    Returns (id, n_tokens, cum_tokens, shard)."""
    spark = docs.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism * 2
    t = docs.select(
        F.col("doc_id"), token_count(F.col("text")).alias("n_tokens"))
    part = (
        t.repartitionByRange(n, "doc_id")
        .withColumn("_pid", F.spark_partition_id())
    )
    w_local = (Window.partitionBy("_pid").orderBy("doc_id")
               .rowsBetween(Window.unboundedPreceding, 0))
    local = part.withColumn("_local_cum", F.sum("n_tokens").over(w_local))
    # one row per partition → a single-partition window over ~n rows
    totals = local.groupBy("_pid").agg(F.sum("n_tokens").alias("_total"))
    w_off = (Window.orderBy("_pid")
             .rowsBetween(Window.unboundedPreceding, -1))
    offsets = totals.withColumn(
        "_offset", F.coalesce(F.sum("_total").over(w_off), F.lit(0)))
    cum = (
        local.join(F.broadcast(offsets.select("_pid", "_offset")), "_pid")
        .withColumn("cum_tokens", F.col("_local_cum") + F.col("_offset"))
    )
    return cum.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("cum_tokens").cast("long").alias("cum_tokens"),
        F.floor((F.col("cum_tokens") - F.col("n_tokens"))
                / F.lit(budget)).cast("long").alias("shard"),
    )


def dsir_weights(raw: DataFrame, target: DataFrame) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, arXiv:2302.03169):
    score every raw-corpus document by how target-like it looks under
    hashed unigram bag-of-words language models, the importance-
    resampling signal that selects pretraining data matching a
    high-quality target (Wikipedia/books) distribution.

    Features are 64 hashed token buckets (md5 → bucket, SQL-portable);
    both corpora get add-one-smoothed bucket distributions p_target /
    p_raw, and a document's weight is

        log_weight = Σ_buckets count_doc(b) · log(p_target(b)/p_raw(b))

    Returns (doc_id, n_tokens, log_weight) with log_weight rounded to
    6dp; resample by log_weight + Gumbel noise downstream.

    Scale shape: the raw corpus is exploded ONCE into per-(doc,
    bucket) counts (≤ n_buckets rows per doc — the compact feature
    representation), which is persisted and feeds BOTH the raw bucket
    histogram (sum over it, n_buckets rows) and the per-doc weighted
    sum; only the (typically much smaller) target corpus gets its own
    explode. Histograms and totals ride broadcasts; the only
    corpus-sized shuffle key is doc_id with map-side partials. The
    float sum is over ≤ n_buckets grouped terms per doc, so 6dp
    rounding is far outside reassociation error."""
    n_buckets = 64

    def toks(df):
        return df.select(F.col("doc_id"),
                         F.explode(word_tokens(F.col("text"))).alias("tok"))

    def bucket(col):
        return F.pmod(
            F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long"),
            F.lit(n_buckets)).cast("int")

    tgt_tok = toks(target).withColumn("b", bucket(F.col("tok")))
    doc_b = (toks(raw).withColumn("b", bucket(F.col("tok")))
             .groupBy("doc_id", "b").agg(F.count("*").alias("c"))
             .persist())

    def dist(h, p_name):
        total = h.agg(F.sum("cnt").cast("double").alias("total"))
        return h.crossJoin(F.broadcast(total)).select(
            "b",
            ((F.col("cnt") + 1.0)
             / (F.col("total") + float(n_buckets))).alias(p_name))

    # left-join raw buckets onto the target distribution: buckets the
    # target never saw still get smoothed mass 1/(total+n_buckets)
    p_raw = dist(doc_b.groupBy("b").agg(F.sum("c").alias("cnt")), "p_raw")
    p_tgt = dist(tgt_tok.groupBy("b").agg(F.count("*").alias("cnt")),
                 "p_tgt")
    tgt_total = tgt_tok.groupBy().agg(
        F.sum(F.lit(1)).cast("double").alias("tgt_total"))
    ratios = (p_raw.join(p_tgt, "b", "left")
              .crossJoin(F.broadcast(tgt_total))
              .select(
                  "b",
                  F.log(F.coalesce(
                      F.col("p_tgt"),
                      1.0 / (F.col("tgt_total") + float(n_buckets)))
                      / F.col("p_raw")).alias("log_ratio")))
    return (doc_b.join(F.broadcast(ratios), "b")
            .groupBy("doc_id")
            .agg(F.sum("c").alias("n_tokens"),
                 F.round(F.sum(F.col("c") * F.col("log_ratio")), 6)
                 .alias("log_weight")))
