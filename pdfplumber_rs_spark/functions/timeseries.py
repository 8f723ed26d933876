"""Temporal analytics over event streams — the monitoring half of a
crawl/ingest pipeline: per-type rate baselines and burst detection.

Everything is windowed DataFrame ops (date_trunc buckets + bounded
frame windows) so the same logic runs batch here and, with a
watermark, as a Structured Streaming aggregation. Numerics stay in
exact-integer territory (counts, integer sums in doubles) so the
DuckDB oracle reproduces every value bit-for-bit."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def event_spikes(events: DataFrame) -> DataFrame:
    """Burst detection per event type: bucket events into hours, then
    flag any hour whose count reaches 2 × the trailing 3-hour average
    for that type. The classic ops question —
    "did error volume spike?" — expressed as one aggregation plus one
    bounded window:

      (event_type, hour_ts, cnt, trail_avg, spike)

    hour_ts is epoch seconds (timezone-proof oracle contract);
    trail_avg is the average count over the 3 PRECEDING
    buckets (null for the first bucket of a type — those rows are
    never spikes); the average of integer counts is exact in doubles,
    so no stddev/fp-accumulation portability hazards.

    Scale shape: ONE (type, hour)-keyed aggregation with map-side
    partials collapses the raw stream to bucket counts — tiny by
    construction (types × hours) — so the per-type ordered window
    runs over the compacted frame, not the event stream. Missing
    hours are absent rows (crawl gaps), so the trailing frame is the
    last 3 OBSERVED buckets, a deliberate choice documented
    here rather than zero-filling the calendar."""
    hourly = (
        events.select(
            F.col("event_type"),
            F.date_trunc("hour", F.col("ts")).alias("hour"))
        .groupBy("event_type", "hour")
        .agg(F.count("*").alias("cnt"))
    )
    return spike_flags(hourly)


def spike_flags(hourly: DataFrame) -> DataFrame:
    """The flagging half of event_spikes over an already-bucketed
    (event_type, hour, cnt) frame — shared by the batch path and the
    streaming path (where the hourly counts come out of a watermarked
    Structured Streaming window aggregation and this enrichment runs
    over the compacted sink, per micro-batch or at read time)."""
    w = (Window.partitionBy("event_type").orderBy("hour")
         .rowsBetween(-3, -1))
    return hourly.select(
        "event_type",
        F.unix_timestamp("hour").alias("hour_ts"),
        "cnt",
        F.round(F.avg("cnt").over(w), 6).alias("trail_avg"),
    ).withColumn(
        "spike",
        F.coalesce(F.col("cnt") >= F.col("trail_avg") * 2.0,
                   F.lit(False)),
    )
