"""Structured Streaming variants of the frontier operators.

The reference is a continuously-running message system: queue Put over
HTTP (``/root/reference/src/queue/main.go:93-103``), 1s poll ticks
(``src/scrapper/queueService.go:149-167``), UDP re-discovery. The batch
round engine replaces the poll loop; this module covers the *ingestion*
side and live metrics as streams:

- ``stream_enqueue``: continuous `scrap` — URL messages dropped as JSON
  files (the HTTP-Put analogue) are canonicalized, typed, sequenced and
  appended to the frontier delta table exactly once per micro-batch via
  ``foreachBatch`` (each micro-batch is one atomic table commit — the
  same exactly-once discipline as the round engine).
- ``host_window_counts``: event-time tumbling-window per-host enqueue
  rates with a watermark for late data (SURVEY.md T8 — absent in the
  reference, standard for a production crawler's live dashboards).

Both run with ``Trigger.availableNow`` in tests (drain-and-stop) and
unmodified as continuous streams in production.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from ..engine import CrawlEngine
from ..functions.urls import canonicalize_series
from ..operators.ranking import dense_seq_numeric
from ..schemas import STATUS_PENDING

ENQUEUE_SCHEMA = "url STRING, url_type STRING, priority INT, ts TIMESTAMP"


@F.pandas_udf(StringType())
def _canonicalize_udf(urls: pd.Series) -> pd.Series:
    return canonicalize_series(urls)


def read_enqueue_stream(spark: SparkSession, drop_dir: str) -> DataFrame:
    """File-source stream of URL messages (one JSON object per line)."""
    return (
        spark.readStream.schema(ENQUEUE_SCHEMA)
        .option("maxFilesPerTrigger", 64)
        .json(drop_dir)
    )


def stream_enqueue(
    engine: CrawlEngine,
    drop_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Continuous seeding: stream -> canonicalize -> dense seq -> frontier.

    Returns the StreamingQuery. Sequence numbers continue from the
    table's current max per micro-batch; within a batch, arrival order
    is (ts, url) — a deterministic total order for replays."""
    spark = engine.spark

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # exactly-once across crash/replay: a crash between the table
        # commit and the streaming checkpoint commit replays this batch_id
        # — the recorded batch id in the commit meta makes the replay a
        # no-op instead of a duplicate append.
        if engine.frontier.find_commit(op="stream_enqueue", batch=batch_id) is not None:
            return
        state = engine.frontier.latest_state(spark)
        max_seq = state.agg(F.max("enqueue_seq").alias("m")).collect()[0]["m"]
        start = (max_seq if max_seq is not None else -1) + 1
        canon = batch_df.withColumn("url", _canonicalize_udf(F.col("url")))
        # the microsecond timestamp is a numeric lead in ts order; a
        # message without ts sorts first, as in an ascending sort
        with_seq = dense_seq_numeric(
            canon, [F.unix_micros("ts"), "url"], start=start
        )
        ucid = engine.frontier.last_commit() + 1
        rows = with_seq.select(
            "url",
            F.xxhash64("url").alias("url_hash"),
            F.parse_url("url", F.lit("HOST")).alias("host"),
            F.coalesce(F.col("url_type"), F.lit("leaf")).alias("url_type"),
            F.lit(0).alias("depth"),  # streamed enqueues are seed-class
            F.coalesce(F.col("priority"), F.lit(0)).alias("priority"),
            F.lit(STATUS_PENDING).alias("status"),
            "enqueue_seq",
            F.lit(None).cast("timestamp").alias("lease_ts"),
            F.lit(engine.current_round()).alias("round"),
            F.lit(0).alias("attempt"),
            F.lit(ucid).cast("long").alias("update_seq"),
        )
        engine.frontier.append(rows, meta={"op": "stream_enqueue", "batch": batch_id})

    stream = read_enqueue_stream(spark, drop_dir)
    writer = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def host_sessionize_stream(
    spark: SparkSession, drop_dir: str, gap_s: int = 30
) -> DataFrame:
    """Custom stateful streaming operator: per-host enqueue *sessions*
    via ``applyInPandasWithState`` — the arbitrary-state upgrade path the
    north rule's live-crawler side needs (burst detection / per-host
    activity sessions), and the one operator class Spark's built-in
    windowed aggs can't express (state = open-session bookkeeping that
    must survive micro-batches AND stream restarts via the checkpoint).

    State per host: (n_sessions, last_event_us, n_events). An event
    starting more than ``gap_s`` after the previous one opens a new
    session — identical semantics to the batch ``sessionize`` query
    (queries.py), which doubles as its oracle in tests.
    """
    stream = read_enqueue_stream(spark, drop_dir)
    events = stream.withColumn(
        "host", F.parse_url(_canonicalize_udf(F.col("url")), F.lit("HOST"))
    ).select("host", "ts")
    gap_us = gap_s * 1_000_000

    def fn(key, pdfs, state):
        (host,) = key
        if state.exists:
            n_sessions, last_us, n_events = state.get
        else:
            n_sessions, last_us, n_events = 0, None, 0
        ts_us: list[int] = []
        for pdf in pdfs:
            ts_us.extend(int(t.value // 1000) for t in pdf["ts"])
        for us in sorted(ts_us):
            if last_us is None or us - last_us > gap_us:
                n_sessions += 1
            last_us = us
            n_events += 1
        state.update((n_sessions, last_us, n_events))
        yield pd.DataFrame(
            [{"host": host, "n_sessions": n_sessions, "n_events": n_events}]
        )

    from pyspark.sql.streaming.state import GroupStateTimeout

    return events.groupBy("host").applyInPandasWithState(
        fn,
        "host string, n_sessions long, n_events long",
        "n_sessions long, last_us long, n_events long",
        "update",
        GroupStateTimeout.NoTimeout,
    )


def host_window_counts(
    spark: SparkSession,
    drop_dir: str,
    window: str = "30 seconds",
    watermark: str = "1 minute",
) -> DataFrame:
    """Event-time tumbling-window per-host enqueue counts with late-data
    watermark. Caller attaches a sink (memory table in tests)."""
    stream = read_enqueue_stream(spark, drop_dir)
    return (
        stream.withColumn("host", F.parse_url(_canonicalize_udf(F.col("url")), F.lit("HOST")))
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "host")
        .agg(F.count("*").alias("n"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "host",
            "n",
        )
    )
