"""In-engine classifier training for quality filtering.

The GPT-3/CCNet pipeline stage "train a linear quality classifier and
score every page" — here as a Bernoulli Naive Bayes whose training IS
a pair of count aggregations, so the whole train+apply cycle is one
lazy DataFrame program with an exact SQL twin (no iterative solver, no
driver-side model object). At 10^12 docs: training = one (tok, label)
shuffle with map-side combine; the model is vocabulary-sized and
broadcasts; scoring = one distinct-token explode joined against the
broadcast model + per-doc sum. Two shuffles end to end.

The API mirrors the production split: nb_train returns the model as a
pair of DataFrames (per-token weights + a 1-row base term) that can be
persisted to a table between training and serving runs; nb_apply
scores any corpus against it. nb_quality_scores is the one-shot
train-on-self convenience used by the driver query.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import word_tokens


def _tokenize(df: DataFrame, label: Column | None) -> DataFrame:
    cols = [
        F.col("doc_id"),
        F.array_distinct(word_tokens(F.col("text"))).alias("toks"),
    ]
    if label is not None:
        cols.insert(1, label.cast("int").alias("label"))
    return df.select(*cols)


def nb_train(df: DataFrame, label: Column) -> tuple[DataFrame, DataFrame]:
    """Fit FULL multivariate Bernoulli NB with Laplace smoothing
    p(tok|c) = (docs_c_with_tok + 1) / (n_c + 2) — absent tokens
    contribute log((1-p1)/(1-p0)) evidence (without the absence terms
    the model degrades to the majority class whenever the prior
    dominates; measured). Algebraically the score is
    base + Σ_{tok ∈ doc} adj_llr(tok) with
    adj_llr = log(p1/p0) − log((1-p1)/(1-p0)) and
    base = prior + Σ_vocab log((1-p1)/(1-p0)), so the model is just
    (tok, adj_llr) rows plus ONE base scalar — both persistable as
    tables between training and serving runs.

    Returns (model, base): (tok, adj_llr) and a 1-row (base) frame."""
    labeled = _tokenize(df, label)
    class_counts = labeled.groupBy().agg(
        F.sum("label").alias("n1"),
        F.sum(1 - F.col("label")).alias("n0"),
    )
    tok_counts = (
        labeled.select("label", F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.sum("label").alias("c1"),
             F.sum(1 - F.col("label")).alias("c0"))
    )
    present = (F.log((F.col("c1") + 1.0) / (F.col("n1") + 2.0))
               - F.log((F.col("c0") + 1.0) / (F.col("n0") + 2.0)))
    absent = (F.log((F.col("n1") + 1.0 - F.col("c1"))
                    / (F.col("n1") + 2.0))
              - F.log((F.col("n0") + 1.0 - F.col("c0"))
                      / (F.col("n0") + 2.0)))
    weights = tok_counts.crossJoin(F.broadcast(class_counts)).select(
        "tok", (present - absent).alias("adj_llr"),
        absent.alias("abs_llr"))
    absent_sum = weights.agg(
        F.coalesce(F.sum("abs_llr"), F.lit(0.0)).alias("sabs"))
    base = class_counts.crossJoin(F.broadcast(absent_sum)).select(
        (F.col("sabs") + F.log(F.col("n1") + 1.0)
         - F.log(F.col("n0") + 1.0)).alias("base"))
    return weights.select("tok", "adj_llr"), base


def nb_apply(df: DataFrame, model: DataFrame, base: DataFrame) -> DataFrame:
    """Score any corpus against a trained model: one distinct-token
    explode joined with the broadcast (tok, adj_llr) table + per-doc
    sum; token-free documents carry exactly `base` (prior plus every
    token's absence evidence). Tokens unseen at training time carry no
    evidence (they drop out of the inner join), the standard NB
    serving convention. Returns (doc_id, nb_score, predicted)."""
    toks = _tokenize(df, None)
    scored = (
        toks.select("doc_id", F.explode("toks").alias("tok"))
        .join(F.broadcast(model), "tok")
        .groupBy("doc_id")
        .agg(F.sum("adj_llr").alias("s"))
    )
    return (
        toks.select("doc_id", F.size("toks").alias("n_toks"))
        .join(scored, "doc_id", "left")
        .crossJoin(F.broadcast(base))
        .select(
            "doc_id",
            F.round(F.coalesce("s", F.lit(0.0)) + F.col("base"), 6)
            .alias("nb_score"),
            ((F.coalesce("s", F.lit(0.0)) + F.col("base")) > 0)
            .alias("predicted"))
    )


def nb_quality_scores(df: DataFrame, label: Column) -> DataFrame:
    """One-shot convenience: train Bernoulli NB on the corpus itself
    (self-supervised heuristic teacher) and score every document.
    Returns (doc_id, label, nb_score, predicted), nb_score at 6dp.
    Everything is counts → the exact same model falls out of the SQL
    oracle; no RNG, no iterative fitting, no driver state."""
    labeled = df.select(
        F.col("doc_id"), F.col("text"),
        label.cast("int").alias("label"),
    ).persist()  # tokenized by both the trainer and the scorer —
    # persist computes the source once (at cluster depth: the
    # between-stage Iceberg commit, as in bpe/pagerank)
    model, base = nb_train(labeled, F.col("label") == 1)
    return (
        nb_apply(labeled, model, base)
        .join(labeled.select("doc_id", "label"), "doc_id")
        .select("doc_id", "label", "nb_score", "predicted")
    )


def quality_report(df: DataFrame) -> DataFrame:
    """Fused filter verdict — the one-row-per-doc decision record a
    production pipeline actually persists (so a later audit can ask
    WHY a document was dropped, not just that it was):

      (doc_id, kept, n_reasons, reasons)

    reasons is the sorted comma-joined list of failed checks:
      too_short      fewer than 20 whitespace tokens
      low_stopword   zero English stopword-marker hits
      bad_mean_len   mean alnum-chars-per-token outside [3, 10]
                     (integer cross-multiplied — no float compare)
      lang_mismatch  the stopword language guess disagrees with the
                     declared lang column

    kept = no reason fired. All checks are integer/string compares on
    pure codegen expressions — one scan projection, no shuffle, and
    deliberately float-free so the SQL oracle agrees exactly."""
    from pyspark.sql import functions as F

    from .text import lang_guess, lang_score, token_count

    t = F.coalesce(F.col("text"), F.lit(""))
    n_tokens = token_count(t)
    n_alnum = F.length(F.regexp_replace(t, r"[^A-Za-z0-9]", ""))
    checks = [
        (F.lit("too_short"), n_tokens < 20),
        (F.lit("low_stopword"), lang_score(t, "en") == 0),
        (F.lit("bad_mean_len"), (n_alnum < 3 * n_tokens)
         | (n_alnum > 10 * n_tokens)),
        (F.lit("lang_mismatch"), lang_guess(t) != F.col("lang")),
    ]
    reasons = F.array_sort(F.filter(
        F.array(*[F.when(cond, name) for name, cond in checks]),
        lambda r: r.isNotNull()))
    return df.select(
        F.col("doc_id"),
        (F.size(reasons) == 0).alias("kept"),
        F.size(reasons).cast("int").alias("n_reasons"),
        F.array_join(reasons, ",").alias("reasons"),
    )
