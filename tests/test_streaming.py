"""Structured Streaming: continuous enqueue into the frontier table and
watermarked event-time window metrics (SURVEY.md T-category upgrades)."""

import json
import os

from pyspark.sql import functions as F

from weaver_spark.engine import CrawlEngine
from weaver_spark.streaming.frontier_stream import host_window_counts, stream_enqueue


def _drop(drop_dir: str, name: str, rows: list[dict]) -> None:
    os.makedirs(drop_dir, exist_ok=True)
    with open(os.path.join(drop_dir, name), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def test_stream_enqueue_appends_frontier(spark, tmp_path):
    wh = str(tmp_path / "wh")
    drop = str(tmp_path / "drop")
    ckpt = str(tmp_path / "ckpt")
    eng = CrawlEngine(spark, wh, mode="reproduction")
    _drop(
        drop,
        "a.jsonl",
        [
            {"url": "HTTP://H1.TEST:80/item/1?utm_source=x", "url_type": "leaf", "priority": 1, "ts": "2024-01-01T00:00:01Z"},
            {"url": "http://h2.test/cat/0", "url_type": "root", "priority": 0, "ts": "2024-01-01T00:00:00Z"},
        ],
    )
    q = stream_enqueue(eng, drop, ckpt, available_now=True)
    assert q.awaitTermination(240), "stream did not drain in time"
    state = eng.frontier.latest_state(spark).orderBy("enqueue_seq").collect()
    assert [r["url"] for r in state] == [
        "http://h2.test/cat/0",  # earlier ts -> lower seq
        "http://h1.test/item/1",  # canonicalized
    ]
    assert [r["enqueue_seq"] for r in state] == [0, 1]
    assert all(r["status"] == "pending" for r in state)

    # second drop continues the sequence — exactly-once per micro-batch
    _drop(drop, "b.jsonl", [
        {"url": "http://h3.test/item/9", "url_type": "leaf", "priority": 0, "ts": "2024-01-01T00:01:00Z"},
    ])
    q2 = stream_enqueue(eng, drop, ckpt, available_now=True)
    assert q2.awaitTermination(240), "stream did not drain in time"
    state = eng.frontier.latest_state(spark).orderBy("enqueue_seq").collect()
    assert len(state) == 3
    assert state[2]["url"] == "http://h3.test/item/9"
    assert state[2]["enqueue_seq"] == 2


def _stream_state(spark, tmp_path, rows):
    eng = CrawlEngine(spark, str(tmp_path / "wh"), mode="reproduction")
    drop = str(tmp_path / "drop")
    _drop(drop, "a.jsonl", rows)
    q = stream_enqueue(eng, drop, str(tmp_path / "ckpt"), available_now=True)
    assert q.awaitTermination(240), "stream did not drain in time"
    state = eng.frontier.latest_state(spark).orderBy("enqueue_seq").collect()
    return [(r["url"], r["enqueue_seq"]) for r in state]


def test_stream_enqueue_message_without_ts_first(spark, tmp_path):
    """A message without ts sorts first, as an ascending (ts, url) sort
    places a null ts."""
    got = _stream_state(spark, tmp_path, [
        {"url": "http://h1.test/item/1", "ts": "2024-01-01T00:00:01Z"},
        {"url": "http://h2.test/item/2"},
        {"url": "http://h0.test/item/0", "ts": "2024-01-01T00:00:00Z"},
    ])
    assert got == [
        ("http://h2.test/item/2", 0),
        ("http://h0.test/item/0", 1),
        ("http://h1.test/item/1", 2),
    ]


def test_stream_enqueue_batch_without_any_ts(spark, tmp_path):
    """A micro-batch in which no message has ts still gets distinct seqs,
    in url order."""
    got = _stream_state(spark, tmp_path, [
        {"url": "http://h2.test/item/2"},
        {"url": "http://h0.test/item/0"},
        {"url": "http://h1.test/item/1"},
    ])
    assert got == [
        ("http://h0.test/item/0", 0),
        ("http://h1.test/item/1", 1),
        ("http://h2.test/item/2", 2),
    ]


def test_host_sessionize_stateful(spark, tmp_path):
    """applyInPandasWithState sessionizer: session counts match the batch
    gap rule, and state survives a stream restart via the checkpoint."""
    from weaver_spark.streaming.frontier_stream import host_sessionize_stream

    drop = str(tmp_path / "drop3")
    ckpt = str(tmp_path / "ckpt3")
    # h0: events at 0s,5s,100s -> 2 sessions; h1: 0s -> 1 session
    _drop(drop, "s1.jsonl", [
        {"url": "http://h0.test/item/1", "url_type": "leaf", "priority": 0, "ts": "2024-01-01T00:00:00Z"},
        {"url": "http://h0.test/item/2", "url_type": "leaf", "priority": 0, "ts": "2024-01-01T00:00:05Z"},
        {"url": "http://h0.test/item/3", "url_type": "leaf", "priority": 0, "ts": "2024-01-01T00:01:40Z"},
        {"url": "http://h1.test/item/4", "url_type": "leaf", "priority": 0, "ts": "2024-01-01T00:00:00Z"},
    ])

    def run(_name):
        # foreachBatch sink: the memory sink cannot recover from a
        # checkpoint, and checkpoint recovery is exactly what the second
        # run asserts (state survival across restart)
        rows = []

        def sink(df, _bid):
            rows.extend(df.collect())

        q = (
            host_sessionize_stream(spark, drop, gap_s=30)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(240), "stream did not drain in time"
        return {r["host"]: (r["n_sessions"], r["n_events"]) for r in rows}

    got = run("sess1")
    assert got == {"h0.test": (2, 3), "h1.test": (1, 1)}

    # restart with new data: h0 continues its last session (gap 5s),
    # h1 opens a second session (gap 10min) — state restored from ckpt
    _drop(drop, "s2.jsonl", [
        {"url": "http://h0.test/item/5", "url_type": "leaf", "priority": 0, "ts": "2024-01-01T00:01:45Z"},
        {"url": "http://h1.test/item/6", "url_type": "leaf", "priority": 0, "ts": "2024-01-01T00:10:00Z"},
    ])
    got = run("sess2")
    assert got == {"h0.test": (2, 4), "h1.test": (2, 2)}


def test_host_window_counts_watermark(spark, tmp_path):
    drop = str(tmp_path / "drop2")
    ckpt = str(tmp_path / "ckpt2")
    rows = [
        {"url": f"http://h{i % 2}.test/item/{i}", "url_type": "leaf", "priority": 0,
         "ts": f"2024-01-01T00:00:{i:02d}Z"}
        for i in range(20)
    ]
    _drop(drop, "w.jsonl", rows)
    agg = host_window_counts(spark, drop, window="10 seconds", watermark="1 minute")
    q = (
        agg.writeStream.format("memory")
        .queryName("host_counts")
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM host_counts").collect()
    # 20 events over 20s -> two 10s windows x 2 hosts
    assert len(got) == 4
    assert sum(r["n"] for r in got) == 20
    assert {r["host"] for r in got} == {"h0.test", "h1.test"}
