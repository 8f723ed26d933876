"""Temporal join operators Spark's API lacks, built as compositions of
native ops (the task-class example: as-of join).

asof_join: for every left row, attach the LATEST right row whose
timestamp is at-or-before the left timestamp, per key — the
quotes-to-trades / snapshot-to-event alignment pass. Implemented with
the union + ordered last-non-null carry-forward trick: ONE key-based
shuffle of the combined rows, no range cross-join, no per-key
collect. At 10^12 rows both sides shuffle once on the (uniform) key
and the window is a linear scan per key partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def range_join(points: DataFrame, intervals: DataFrame, key: str,
               ts: str, start: str, end: str,
               bucket_seconds: int = 3600) -> DataFrame:
    """Point-in-interval join without an inequality cross-join: both
    sides bucket on floor(epoch / bucket_seconds) — intervals EXPLODE
    across every bucket they cover, points land in exactly one — then
    an equi-join on (key, bucket) + the exact containment filter. A
    (point, interval) pair can only meet in the point's bucket, so no
    dedup pass is needed. Shuffle is uniform on (key, bucket); interval
    fan-out is len/bucket_seconds + 1, so pick the bucket near the
    typical interval length. Returns all point columns + the interval
    columns (suffixed where colliding is the caller's job)."""
    b = int(bucket_seconds)
    p = points.withColumn(
        "_b", F.floor(F.unix_timestamp(F.col(ts)) / b).cast("long"))
    i = intervals.withColumn(
        "_b",
        F.explode(F.sequence(
            F.floor(F.unix_timestamp(F.col(start)) / b).cast("long"),
            F.floor(F.unix_timestamp(F.col(end)) / b).cast("long"),
        )),
    )
    return (
        p.join(i, [key, "_b"])
        .filter((F.col(ts) >= F.col(start)) & (F.col(ts) <= F.col(end)))
        .drop("_b")
    )


def asof_join(left: DataFrame, right: DataFrame, key: str,
              left_ts: str, right_ts: str,
              right_cols: list[str]) -> DataFrame:
    """Left rows + carried-forward `right_cols` from the newest right
    row with right_ts <= left_ts (inclusive) for the same `key`;
    nulls when no prior right row exists. Matches DuckDB's
    `ASOF LEFT JOIN ... ON l.key = r.key AND l.ts >= r.ts`.

    Rows sort by (_ts, _side) with right rows FIRST at equal
    timestamps, which is what makes the match inclusive."""
    lcols = left.columns
    l = left.select(
        *lcols,
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_side"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"_r_{c}")
          for c in right_cols],
    )
    r = right.select(
        *[F.lit(None).cast(left.schema[c].dataType).alias(c)
          if c != key else F.col(key)
          for c in lcols],
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        *[F.col(c).alias(f"_r_{c}") for c in right_cols],
    )
    u = l.unionByName(r)
    w = (Window.partitionBy(key).orderBy("_ts", "_side")
         .rowsBetween(Window.unboundedPreceding, 0))
    carried = u.select(
        *lcols, "_side",
        *[F.last(f"_r_{c}", ignorenulls=True).over(w).alias(c)
          for c in right_cols],
    )
    return carried.filter(F.col("_side") == 1).drop("_side")


def apply_changelog(base: DataFrame, changes: DataFrame) -> DataFrame:
    """CDC merge — the merge-on-read upsert a lakehouse table (Iceberg
    v2 deletes, Hudi MoR) performs at compaction: apply an ordered
    changelog of upserts ('U') and deletes ('D') onto a base snapshot
    and return the final state. Per key, the LATEST change by
    (ts, op) wins; 'D' removes the row, 'U' replaces it; keys without
    changes pass through.

    Ties at identical ts resolve to the op sorting LAST in the
    (ts, op) struct max — 'U' > 'D' lexicographically, so an upsert
    observed at the same instant as a delete wins. Deterministic, and
    stated here because the oracle must agree.

    Scale shape: ONE max_by aggregation collapses the changelog to
    its per-key head (map-side partials), then ONE key-equi
    full-outer join against base — both shuffles on the same uniform
    key, so co-located/bucketed tables join without an exchange."""
    from pyspark.sql import functions as F

    value_cols = [c for c in changes.columns
                  if c not in ("url", "ts", "op")]
    head = changes.groupBy("url").agg(
        F.max_by(
            F.struct(F.col("op"),
                     *[F.col(c).alias(c) for c in value_cols]),
            F.struct(F.col("ts"), F.col("op"))).alias("chg"))
    joined = base.join(head, "url", "full_outer")
    kept = joined.filter(
        F.col("chg").isNull() | (F.col("chg.op") != "D"))
    return kept.select(
        "url",
        *[F.when(F.col("chg").isNotNull(), F.col(f"chg.{c}"))
          .otherwise(F.col(c)).alias(c) for c in value_cols
          if c in base.columns] +
        [F.col(f"chg.{c}").alias(c) for c in value_cols
         if c not in base.columns])
