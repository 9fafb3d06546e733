"""dense_seq regression: sequence numbers must be exactly start..start+N-1
(unique, order-preserving) at any partition count. Guards against the
repartitionByRange per-execution sampling bug that minted duplicate seqs
and silently dropped frontier rows."""

from pyspark.sql import functions as F

from weaver_spark.operators.ranking import (
    dense_seq,
    dense_seq_numeric,
    fifo_order,
    seq_bucket,
    topk_per_group,
)


def test_dense_seq_unique_and_ordered(spark):
    n = 50_000
    df = spark.range(n).select(
        (F.col("id") * 2654435761 % 1000003).alias("parent_seq"),
        (F.col("id") % 97).alias("link_pos"),
        F.col("id").alias("orig"),
    ).where(F.lit(True))
    # make (parent_seq, link_pos) a strict total order
    df = df.dropDuplicates(["parent_seq", "link_pos"])
    expected = df.count()
    out, pin = dense_seq(df, ["parent_seq", "link_pos"], start=1000, num_partitions=16)
    rows = out.select("parent_seq", "link_pos", "enqueue_seq").collect()
    pin.unpersist()
    assert len(rows) == expected
    seqs = sorted(r["enqueue_seq"] for r in rows)
    assert seqs == list(range(1000, 1000 + expected))  # dense, unique
    by_seq = sorted(rows, key=lambda r: r["enqueue_seq"])
    keys = [(r["parent_seq"], r["link_pos"]) for r in by_seq]
    assert keys == sorted(keys)  # order-preserving


def test_dense_seq_empty(spark):
    df = spark.range(0).select(F.col("id").alias("a"))
    out, pin = dense_seq(df, ["a"], start=5)
    assert out.count() == 0
    pin.unpersist()


def test_dense_seq_numeric_matches_dense_seq(spark):
    """The r7 bucketed variant must assign IDENTICAL sequence numbers to
    the sampling-based dense_seq for any numeric-lead total order —
    including skewed leads (many equal parent_seq values) and at several
    partition counts."""
    n = 20_000
    df = (
        spark.range(n)
        .select(
            # heavy duplication on the lead: ~200 rows per parent_seq
            (F.col("id") % 101).alias("parent_seq"),
            F.col("id").alias("link_pos"),
        )
        .dropDuplicates(["parent_seq", "link_pos"])
    )
    base, pin = dense_seq(df, ["parent_seq", "link_pos"], start=7)
    expected = {
        (r["parent_seq"], r["link_pos"]): r["enqueue_seq"]
        for r in base.collect()
    }
    pin.unpersist()
    for nparts in (1, 4, 16):
        out, pin2 = dense_seq_numeric(
            df, ["parent_seq", "link_pos"], start=7, num_partitions=nparts
        )
        assert pin2 is None
        got = {
            (r["parent_seq"], r["link_pos"]): r["enqueue_seq"]
            for r in out.collect()
        }
        assert got == expected, f"nparts={nparts}"


def test_dense_seq_numeric_empty(spark):
    df = spark.range(0).select(F.col("id").alias("a"))
    out, pin = dense_seq_numeric(df, ["a"], start=5)
    assert out.count() == 0
    assert pin is None


def test_dense_seq_numeric_conservative_bounds(spark):
    """Caller-supplied bounds (the r7 engine path: bounds ride the
    metrics rollup instead of a dedicated min/max job) must assign
    sequence numbers identical to the self-computed-bounds path, even
    when the supplied range is much WIDER than the data (the engine's
    range covers all fetched seqs, links exist for only some) and when
    it merely touches the true min/max."""
    n = 20_000
    df = (
        spark.range(n)
        .select(
            ((F.col("id") % 113) * 5 + 200).alias("parent_seq"),
            F.col("id").alias("link_pos"),
        )
        .dropDuplicates(["parent_seq", "link_pos"])
    )
    base, _ = dense_seq_numeric(df, ["parent_seq", "link_pos"], start=3)
    expected = {
        (r["parent_seq"], r["link_pos"]): r["enqueue_seq"]
        for r in base.collect()
    }
    lo, hi = 200, (112 * 5 + 200)
    for bounds in ((lo, hi), (0, 10 * hi), (lo - 1, hi + 999_999)):
        # counts=: per-bucket row counts the caller took in a job of its
        # own (the engine's stats rollup), bucketed by seq_bucket
        bkt = seq_bucket("parent_seq", bounds, 4).alias("b")
        counts = {r["b"]: r["count"] for r in df.groupBy(bkt).count().collect()}
        for kw in ({}, {"num_partitions": 4, "counts": counts}):
            out, pin = dense_seq_numeric(
                df, ["parent_seq", "link_pos"], start=3, bounds=bounds, **kw
            )
            assert pin is None
            got = {
                (r["parent_seq"], r["link_pos"]): r["enqueue_seq"]
                for r in out.collect()
            }
            assert got == expected, f"bounds={bounds} {sorted(kw)}"


def test_topk_and_fifo(spark):
    df = spark.createDataFrame(
        [(g, i) for g in range(5) for i in range(10)], "g int, i int"
    )
    top = topk_per_group(df, ["g"], [F.col("i").desc()], 3)
    assert top.count() == 15
    assert {r["i"] for r in top.collect()} == {7, 8, 9}
    ordered = [r["i"] for r in fifo_order(df.where(F.col("g") == 0), "i").collect()]
    assert ordered == list(range(10))
