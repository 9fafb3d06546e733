"""dense_seq_numeric: sequence numbers must be exactly start..start+N-1
in the sort order of the key (unique, order-preserving) at any partition
count, equal to a single-stream ``sorted()`` reference. Guards the
frontier's FIFO ``enqueue_seq``: a duplicate seq silently drops a
frontier row."""

from pyspark.sql import functions as F

from weaver_spark.operators.ranking import (
    dense_seq_numeric,
    fifo_order,
    seq_bucket,
    topk_per_group,
)


def _reference_seqs(keys, start):
    """Single-stream reference: ``start + i`` for the i-th key in sorted
    order, null leads first (as an ascending sort places them)."""
    order = sorted(keys, key=lambda k: (k[0] is not None, k[0] or 0, *k[1:]))
    return {k: start + i for i, k in enumerate(order)}


def _seqs(out, cols=("parent_seq", "link_pos"), seq_col="enqueue_seq"):
    return {tuple(r[c] for c in cols): r[seq_col] for r in out.collect()}


def test_dense_seq_numeric_unique_and_ordered(spark):
    n = 50_000
    df = spark.range(n).select(
        (F.col("id") * 2654435761 % 1000003).alias("parent_seq"),
        (F.col("id") % 97).alias("link_pos"),
        F.col("id").alias("orig"),
    ).where(F.lit(True))
    # make (parent_seq, link_pos) a strict total order
    df = df.dropDuplicates(["parent_seq", "link_pos"])
    keys = [(r["parent_seq"], r["link_pos"]) for r in df.collect()]
    out = dense_seq_numeric(
        df, ["parent_seq", "link_pos"], start=1000, num_partitions=16
    )
    got = _seqs(out)
    assert len(got) == len(keys)
    assert sorted(got.values()) == list(range(1000, 1000 + len(keys)))  # dense, unique
    assert got == _reference_seqs(keys, 1000)  # order-preserving


def test_dense_seq_numeric_empty(spark):
    df = spark.range(0).select(F.col("id").alias("a"))
    out = dense_seq_numeric(df, ["a"], start=5)
    assert out.count() == 0


def test_dense_seq_numeric_skewed_lead(spark):
    """Skewed leads (many equal parent_seq values) at several partition
    counts: an uneven lead costs parallelism, never correctness."""
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
    expected = _reference_seqs(
        [(r["parent_seq"], r["link_pos"]) for r in df.collect()], 7
    )
    for nparts in (1, 4, 16):
        out = dense_seq_numeric(
            df, ["parent_seq", "link_pos"], start=7, num_partitions=nparts
        )
        assert _seqs(out) == expected, f"nparts={nparts}"


def test_dense_seq_numeric_null_leads_first(spark):
    """Null leads take the first seqs, ordered by the next column; a
    frame whose every lead is null still gets distinct seqs (its
    emptiness is decided by the counts, not by the missing min/max)."""
    rows = [(None, 3), (5, 0), (None, 1), (2, 9), (None, 2), (5, 1)]
    df = spark.createDataFrame(rows, "parent_seq long, link_pos long")
    for nparts in (1, 3):
        out = dense_seq_numeric(
            df, ["parent_seq", "link_pos"], start=10, num_partitions=nparts
        )
        assert _seqs(out) == _reference_seqs(rows, 10), f"nparts={nparts}"
    nulls = df.where(F.col("parent_seq").isNull())
    got = _seqs(dense_seq_numeric(nulls, ["parent_seq", "link_pos"], start=4))
    assert got == {(None, 1): 4, (None, 2): 5, (None, 3): 6}


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
    expected = _seqs(dense_seq_numeric(df, ["parent_seq", "link_pos"], start=3))
    lo, hi = 200, (112 * 5 + 200)
    for bounds in ((lo, hi), (0, 10 * hi), (lo - 1, hi + 999_999)):
        # counts=: per-bucket row counts the caller took in a job of its
        # own (the engine's stats rollup), bucketed by seq_bucket
        bkt = seq_bucket("parent_seq", bounds, 4).alias("b")
        counts = {r["b"]: r["count"] for r in df.groupBy(bkt).count().collect()}
        for kw in ({}, {"num_partitions": 4, "counts": counts}):
            out = dense_seq_numeric(
                df, ["parent_seq", "link_pos"], start=3, bounds=bounds, **kw
            )
            assert _seqs(out) == expected, f"bounds={bounds} {sorted(kw)}"


def test_topk_and_fifo(spark):
    df = spark.createDataFrame(
        [(g, i) for g in range(5) for i in range(10)], "g int, i int"
    )
    top = topk_per_group(df, ["g"], [F.col("i").desc()], 3)
    assert top.count() == 15
    assert {r["i"] for r in top.collect()} == {7, 8, 9}
    ordered = [r["i"] for r in fifo_order(df.where(F.col("g") == 0), "i").collect()]
    assert ordered == list(range(10))
