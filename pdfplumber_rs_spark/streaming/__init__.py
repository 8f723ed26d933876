"""Structured Streaming ingestion for the extraction pipeline.

The reference is a batch library (no streaming surface); this module is
the Spark-native continuous-ingestion path a crawl pipeline needs: new
corpus files land in a directory, each micro-batch runs the SAME batch
plan (extract_pages → document_text) via foreachBatch, and the sink
append is checkpointed so a restart resumes exactly where it stopped —
the streaming twin of the Iceberg-commit + left-anti resume described
in SURVEY.md §4(d).

foreachBatch (not a direct streaming agg) because document assembly
needs a non-time window over page_number, which Structured Streaming
cannot express; per micro-batch it is plain batch Spark. Exactly-once
into a transactional sink (Iceberg/Delta); at-least-once into raw
parquet as used in the tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, StringType, StructField, StructType

from ..pipeline import document_text, extract_pages

STREAM_INPUT_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("html", BinaryType()),
    ]
)


def read_corpus_stream(spark: SparkSession, input_path: str) -> DataFrame:
    """File-source stream of (url, html) parquet drops."""
    return spark.readStream.schema(STREAM_INPUT_SCHEMA).parquet(input_path)


def stream_extract(spark: SparkSession, input_path: str, output_path: str,
                   checkpoint: str):
    """Start the streaming extraction job (text only: no object
    sections). Returns the StreamingQuery; it drains the currently-
    visible files and stops (the availableNow batch-drain trigger used
    by scheduled incremental runs)."""
    stream = read_corpus_stream(spark, input_path)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        pages = extract_pages(batch_df, handle_skew=False, include=())
        doc = document_text(pages)
        (doc.withColumn("batch_id", F.lit(batch_id))
         .write.mode("append").parquet(output_path))

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


EVENTS_SCHEMA = StructType.fromJson({
    "type": "struct",
    "fields": [
        {"name": "event_id", "type": "long", "nullable": True, "metadata": {}},
        {"name": "ts", "type": "timestamp", "nullable": True, "metadata": {}},
        {"name": "user_id", "type": "long", "nullable": True, "metadata": {}},
        {"name": "event_type", "type": "string", "nullable": True, "metadata": {}},
        {"name": "value", "type": "double", "nullable": True, "metadata": {}},
        {"name": "props", "type": "string", "nullable": True, "metadata": {}},
    ],
})


def stream_dedup(spark: SparkSession, input_path: str, output_path: str,
                 checkpoint: str, keys: list[str],
                 watermark: str = "1 hour"):
    """Stateful streaming EXACT-DEDUP: `dropDuplicatesWithinWatermark`
    keeps one state entry per key for the watermark horizon and emits
    only the first occurrence — the streaming twin of the batch
    dedup_exact operator, with bounded state (keys older than the
    watermark are evicted, so a crawl stream can run forever). Emits
    the key columns only, so the output is a deterministic SET for a
    static availableNow drain."""
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(input_path)
    deduped = (
        stream.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(keys)
        .select(*keys)
    )
    return (
        deduped.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .format("parquet").option("path", output_path)
        .start()
    )


def stream_sessionize(spark: SparkSession, input_path: str,
                      output_path: str, checkpoint: str):
    """CUSTOM stateful streaming operator via `applyInPandasWithState`
    (the escape hatch for semantics Structured Streaming's built-in
    windows can't express): per-user gap-based sessionization. State =
    the one open session (start_us, last_us, n_events) per user_id; a
    micro-batch's events merge into it in (ts, event_id) order, every
    gap > 30 minutes CLOSES a session (emitted downstream) and opens
    the next. Only closed sessions are emitted — with an availableNow
    drain the final open session per user stays in state, so the
    deterministic oracle is "all sessions except each user's last".

    Scale shape: state is one tiny tuple per active user, partitioned
    by user_id (uniform key); each micro-batch shuffles once on
    user_id. Micro-batches must arrive time-ordered per user (the
    Kafka-partition-by-user contract); the test feeds time-ranged
    files with maxFilesPerTrigger=1."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import LongType

    out_schema = StructType([
        StructField("user_id", LongType()),
        StructField("start_us", LongType()),
        StructField("end_us", LongType()),
        StructField("n_events", LongType()),
    ])
    state_schema = StructType([
        StructField("start", LongType()),
        StructField("last", LongType()),
        StructField("cnt", LongType()),
    ])
    gap_us = 1800 * 1_000_000

    def fn(key, pdfs, state: GroupState):
        import pandas as pd

        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values(["ts", "event_id"])
        ts_us = (rows["ts"].astype("int64") // 1000).tolist()
        if state.exists:
            start, last, cnt = state.get
        else:
            start = last = cnt = None
        uid = key[0]
        closed = []
        for t in ts_us:
            if start is None:
                start, last, cnt = t, t, 1
            elif t - last > gap_us:
                closed.append((uid, start, last, cnt))
                start, last, cnt = t, t, 1
            else:
                last = t
                cnt += 1
        state.update((start, last, cnt))
        out = pd.DataFrame(
            closed, columns=["user_id", "start_us", "end_us", "n_events"])
        yield out.astype("int64") if len(out) else out

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(input_path)
    )
    sessions = stream.groupBy("user_id").applyInPandasWithState(
        fn, out_schema, state_schema, "append",
        GroupStateTimeout.NoTimeout,
    )
    return (
        sessions.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .format("parquet").option("path", output_path)
        .start()
    )


def stream_windowed_counts(spark: SparkSession, input_path: str,
                           output_path: str, checkpoint: str,
                           window: str = "1 day"):
    """Genuinely STATEFUL Structured Streaming: tumbling event-time
    windows with a 1-hour watermark, append output mode — a window row
    is emitted only once its end passes the watermark (max event time −
    1 hour), so late data within the delay is still counted and the
    state store is bounded. With trigger(availableNow) the final
    watermark is max(ts) − 1 hour: every window closed by then lands in
    the sink, the still-open tail window is withheld — deterministic
    for a static input, which is what the driver oracle checks."""
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(input_path)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", window).alias("win"), "event_type")
        .count()
        .select(F.col("win.start").alias("window_start"), "event_type",
                "count")
    )
    return (
        agg.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .format("parquet").option("path", output_path)
        .start()
    )


def stream_dedup_against_store(spark: SparkSession, input_path: str,
                               output_path: str, store_path: str,
                               checkpoint: str):
    """Incremental-ingestion dedup against the HISTORICAL corpus — the
    production recrawl pattern: each micro-batch fingerprints its
    documents (md5 of normalized text, same key as batch dedup_exact),
    drops within-batch duplicates, LEFT-ANTI joins the persisted
    fingerprint store so content ingested by ANY earlier batch or run
    never re-enters the corpus, then appends survivors to the output
    and their fingerprints to the store.

    Scale (10^12 docs): the store is a fingerprint-keyed table — at
    production scale an Iceberg table bucketed by fingerprint prefix so
    the anti-join is a co-located shuffled hash join on the uniform md5
    key (never broadcast: the store grows with the corpus). foreachBatch
    re-runs a batch after a crash, so the parquet append is
    at-least-once; the anti-join itself makes re-ingestion a no-op for
    the OUTPUT, and in production the store append is an idempotent
    Iceberg MERGE on the fingerprint key (here: plain append + the
    store is read distinct).

    Returns the StreamingQuery (availableNow drain)."""
    from ..functions.text import fingerprint

    stream = read_corpus_stream(spark, input_path)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        fped = batch_df.withColumn(
            "fp", fingerprint(F.col("html").cast("string")))
        # deterministic within-batch winner: min url per fingerprint
        # (dropDuplicates keeps an arbitrary row — unstable under
        # partitioning, which would break replay idempotence)
        keep = fped.groupBy("fp").agg(F.min("url").alias("url"))
        batch = fped.join(keep, ["fp", "url"], "left_semi") \
            .dropDuplicates(["fp"])
        # explicit existence probe — NOT a bare except around the read:
        # a corrupt footer or transient IO error must fail the batch
        # loudly (foreachBatch retries it), never be silently treated
        # as "no store yet" and re-ingest historical duplicates
        jpath = spark._jvm.org.apache.hadoop.fs.Path(store_path)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        if fs.exists(jpath):
            store = spark.read.parquet(store_path).select("fp").distinct()
            fresh = batch.join(store, "fp", "left_anti")
        else:  # first batch ever: no store yet
            fresh = batch
        fresh.persist()
        (fresh.withColumn("batch_id", F.lit(batch_id))
         .write.mode("append").parquet(output_path))
        fresh.select("fp").write.mode("append").parquet(store_path)
        fresh.unpersist()

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
