"""Table-maintenance operators for an Iceberg-style lakehouse corpus:
small-file compaction planning and partition-skew observability — the
jobs a 10^12-row table needs between writes (Iceberg's rewrite_data_
files / the skew report that decides where salting is worth it).

Everything is pure DataFrame aggregation / window logic — no UDFs, no
driver-side loops; the file inventory a real catalog exposes
(manifest rows: partition, path, bytes) is just another DataFrame.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def compaction_plan(files: DataFrame, target_bytes: int) -> DataFrame:
    """Byte-quota compaction groups per partition — which small files
    merge into which rewrite task (the planning half of Iceberg's
    rewrite_data_files / binpack). Files order by (bytes DESC, path)
    inside their partition; a file's group is its PRE-fill running
    byte sum integer-divided by `target_bytes` — i.e. group boundaries
    sit at fixed byte quotas over the ordered inventory. Files already
    ≥ target_bytes always land alone. Deterministic — the same
    inventory always yields the same plan.

    This fixed-quota rule is a one-pass closed form, NOT the greedy
    restart-at-boundary fill: greedy resets its counter when a group
    overshoots, which makes every boundary depend on the previous one
    — inherently sequential, inexpressible as a window function. The
    quota variant can therefore emit undersized groups right after an
    overshooting file: target 1000, bytes [999, 999, 3, 3] has
    pre-fill sums 0/999/1998/2001 → groups [0, 0, 1, 2], splitting
    the two 3-byte files that greedy would pack together. The
    fragmentation is bounded (one quota boundary per target_bytes of
    inventory) and rewrite tasks tolerate small inputs; what matters
    at manifest scale is determinism and one pass.

    Returns (part, path, bytes, grp, grp_bytes) where grp is 0-based
    per partition, monotone in fill order (ids may skip after an
    oversized file — the plan is about membership, not label density)
    and grp_bytes the group's total.

    Scale shape: ONE window per partition key (manifests are
    file-count-sized, millions of rows, not data-sized) computing the
    running byte sum; group ids are exact INTEGER division of that
    long cumsum (no double rounding even past 2^53 cumulative bytes).
    A second small agg attaches group totals. Skewed partitions cost
    their own file count only."""
    if target_bytes <= 0:
        # 0 would make the `before div 0` expression yield a null grp
        # for every file with no error (ADVICE r5) — fail loudly
        raise ValueError(f"target_bytes must be > 0, got {target_bytes}")
    w = (Window.partitionBy("part")
         .orderBy(F.col("bytes").desc(), F.col("path"))
         .rowsBetween(Window.unboundedPreceding, 0))
    filled = files.select(
        F.col("part"),
        F.col("path"),
        F.col("bytes").cast("long").alias("bytes"),
        (F.sum(F.col("bytes").cast("long")).over(w)
         - F.col("bytes")).alias("before"),
    ).withColumn(
        "grp",
        F.expr(f"before div {int(target_bytes)}").cast("long"),
    ).drop("before")
    totals = filled.groupBy("part", "grp").agg(
        F.sum("bytes").alias("grp_bytes"))
    return filled.join(totals, ["part", "grp"]).select(
        "part", "path", "bytes", "grp",
        F.col("grp_bytes").cast("long").alias("grp_bytes"))


def partition_skew(df: DataFrame, key: Column | str,
                   weight: Column | None = None) -> DataFrame:
    """Skew report over a prospective shuffle key — the measurement
    that decides WHERE salting / AQE skew-join is worth paying for
    before a 100 TB job discovers it the slow way. One row per key
    plus the corpus-level skew factor replicated onto each row so the
    report is self-contained.

    Returns (key, rows, weight_sum, row_share, skew_factor) where
    skew_factor = max(weight_sum) / mean(weight_sum) over all keys —
    1.0 is perfectly balanced; >4 is the usual "salt this" line.

    Scale shape: ONE key-keyed aggregation (map-side partials) — the
    result is key-cardinality-sized; the corpus-level max/mean attach
    via a 1-row broadcast crossJoin (whitelisted BNLJ shape), never a
    window over the corpus."""
    k = F.col(key) if isinstance(key, str) else key
    wcol = weight if weight is not None else F.lit(1.0)
    per = df.groupBy(k.alias("key")).agg(
        F.count("*").alias("rows"),
        F.sum(wcol.cast("double")).alias("weight_sum"))
    stats = per.groupBy().agg(
        F.sum("rows").alias("total_rows"),
        F.max("weight_sum").alias("mx"),
        F.avg("weight_sum").alias("mean"))
    return per.crossJoin(F.broadcast(stats)).select(
        "key",
        F.col("rows").cast("long").alias("rows"),
        F.round("weight_sum", 6).alias("weight_sum"),
        F.round(F.col("rows") / F.col("total_rows"), 6)
        .alias("row_share"),
        F.round(F.col("mx") / F.col("mean"), 6).alias("skew_factor"))
