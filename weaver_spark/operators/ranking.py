"""Ordering and per-key budget operators (SURVEY.md W1/W2 + north rule).

- ``dense_seq``: deterministic, partition-count-independent assignment of
  consecutive sequence numbers in a given sort order — the FIFO
  ``enqueue_seq`` of the frontier (reference uses UnixNano ids,
  ``/root/reference/src/queue/main.go:35``, which are racy; determinism
  requires a derived order — SURVEY.md C5). Implemented scalably: range
  repartition + per-partition row_number + partition offsets, never a
  single global window.
- ``topk_per_group``: the reference's link cap per root page
  (``amazonRootHandler.go:33-43`` k=3, ``neweggRootHandler.go:19-24`` k=6).
- ``budget_rank``: per-host politeness budget as a window rank. The
  skew-safe variant prefilters within (host, salt) buckets — the global
  per-host rank of a row is >= its rank within any salt bucket, so rows
  ranked > budget inside their bucket can never make the budget and are
  dropped before the exact per-host rank runs on the tiny survivor set
  (<= salt * budget rows per host). This is what keeps mega-host skew
  (one host owning 50% of the frontier) from hot-spotting one reducer.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dense_seq(
    df: DataFrame,
    order_cols: list[str],
    seq_col: str = "enqueue_seq",
    start: int = 0,
    num_partitions: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Assign start, start+1, ... in the total order of ``order_cols``.

    Two jobs over a PINNED (persisted) range-partitioned intermediate:
    count per partition -> cumulative offsets (tiny driver collect, one
    row per partition) -> row_number within each partition. No global
    single-partition window, so this holds at 10^10 rows. ``order_cols``
    must be a strict total order (ties would make the result
    nondeterministic).

    Returns (result, pinned): the caller MUST materialize `result`
    (write/append) and then ``pinned.unpersist()``. The pin is
    load-bearing correctness, not an optimization: ``repartitionByRange``
    samples range boundaries with a per-plan-execution seed, so a fresh
    execution of the same logical plan can assign different partition
    ids — the collected offsets would then mint duplicate sequence
    numbers (observed as silently dropped frontier rows). The cache pins
    one boundary assignment across the offsets job and the output job;
    partition-level eviction recompute reuses the existing shuffle
    output, so it cannot resample.
    """
    spark = df.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    cols = [F.col(c) for c in order_cols]
    part = (
        df.repartitionByRange(num_partitions, *cols)
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    counts = {r["_pid"]: r["cnt"] for r in part.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()}
    offsets, acc = {}, start
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    if offsets:
        mapping = F.create_map(
            *[F.lit(x) for pid_off in offsets.items() for x in pid_off]
        )
        offset_expr = F.coalesce(mapping[F.col("_pid")], F.lit(0))
    else:
        offset_expr = F.lit(0)  # empty input: no offsets to map
    w = Window.partitionBy("_pid").orderBy(*cols)
    out = part.withColumn(
        seq_col,
        (F.row_number().over(w) - 1 + offset_expr).cast("long"),
    ).drop("_pid")
    return out, part


def seq_bucket(
    lead: Column | str, bounds: tuple[int, int], num_partitions: int
) -> Column:
    """The bucket ``dense_seq_numeric`` gives a row: ``num_partitions``
    equal-width buckets of the numeric ``lead`` over ``bounds`` (lo, hi).
    A caller that counts rows per bucket inside a job of its own (the
    ``counts=`` path) buckets with this same expression, so its counts
    and the sequencer's buckets always agree."""
    lo, hi = bounds
    span = max(1, -(-(hi - lo + 1) // num_partitions))  # ceil division
    col = F.col(lead) if isinstance(lead, str) else lead
    return F.floor((col.cast("long") - F.lit(lo)) / F.lit(span)).cast("int")


def dense_seq_numeric(
    df: DataFrame,
    order_cols: list[str],
    seq_col: str = "enqueue_seq",
    start: int = 0,
    num_partitions: int | None = None,
    bounds: tuple[int, int] | None = None,
    counts: dict[int, int] | None = None,
) -> tuple[DataFrame, DataFrame | None]:
    """``dense_seq`` for a NUMERIC leading order column (r7).

    Equal-width buckets on the leading column (``seq_bucket``) replace
    ``repartitionByRange``'s boundary sampling: the bucket of a row is a
    pure deterministic function of its key, so there is no sampling
    pass, no per-plan-execution seed, and therefore NO pinned
    intermediate to guard against resampling (the correctness hazard
    dense_seq's persist exists for). Offsets come from the row count of
    each bucket; the offset+row_number window then rides inside the
    consumer's own job. Bucketing only the LEADING column is
    order-preserving for the full key (equal leads stay in one bucket,
    ordered within by the window), so the assigned sequence numbers are
    IDENTICAL to dense_seq's. Bucket width assumes the leading column
    is roughly uniform over [min, max] (the engine's links carry dense
    parent seqs); a pathological distribution degrades parallelism,
    never correctness. Returns (result, None) — nothing to unpersist.

    Jobs: at most two tiny ones, both map-side partial with O(buckets)
    exchanges, and none when the caller knows both inputs:

    - ``bounds`` (lo, hi) skips the min/max job. Any RANGE COVERING the
      leading column works: conservative (wider) bounds keep the bucket
      function monotone in the leading column, so per-bucket offsets +
      in-bucket ordering assign the IDENTICAL sequence numbers; unused
      sub-ranges only show up as empty buckets.
    - ``counts`` {bucket: rows of ``df``}, bucketed by ``seq_bucket``
      with the same ``bounds`` and ``num_partitions``, skips the
      per-bucket count job (the engine sums them from the round's stats
      rollup). Buckets missing from it hold no rows; extra zero-count
      buckets are harmless.
    """
    spark = df.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    lead = order_cols[0]
    if bounds is None:
        assert counts is None, "counts are per bucket of the given bounds"
        row = df.agg(F.min(lead).alias("lo"), F.max(lead).alias("hi")).collect()[0]
        if row["lo"] is None:  # empty input
            return df.withColumn(seq_col, F.lit(start).cast("long")), None
        bounds = (int(row["lo"]), int(row["hi"]))
    b = df.withColumn("_bkt", seq_bucket(lead, bounds, num_partitions))
    if counts is None:
        counts = {
            r["_bkt"]: r["cnt"]
            for r in b.groupBy("_bkt").agg(F.count("*").alias("cnt")).collect()
        }
    offsets, acc = {}, start
    for k in sorted(counts):
        offsets[k] = acc
        acc += counts[k]
    mapping = F.create_map(
        *[F.lit(x) for bkt_off in offsets.items() for x in bkt_off]
    )
    w = Window.partitionBy("_bkt").orderBy(*[F.col(c) for c in order_cols])
    out = b.withColumn(
        seq_col,
        (
            F.row_number().over(w) - 1 + F.coalesce(mapping[F.col("_bkt")], F.lit(0))
        ).cast("long"),
    ).drop("_bkt")
    return out, None


def topk_per_group(
    df: DataFrame, group_cols: list[str], order_cols: list[Column | str], k: int
) -> DataFrame:
    """row_number() <= k per group (W1: link cap per root page)."""
    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .drop("_rn")
    )


def budget_rank(
    df: DataFrame,
    host_col: str,
    order_cols: list[Column | str],
    budget: int | None,
    salt_col: Column | None = None,
    salt_buckets: int = 16,
    cap_col: Column | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Split df into (within_budget, deferred) per host.

    ``order_cols`` define priority (e.g. [desc(priority), enqueue_seq]).
    With ``salt_col`` (any stable int expression, e.g. xxhash64(url)), the
    exact rank runs only on the salted-prefilter survivors — correctness
    identical to the unsalted rank, shuffle skew bounded by salt_buckets.

    The effective per-host cap is LEAST(budget, cap_col): ``budget`` is
    the global politeness scalar, ``cap_col`` an optional per-row (really
    per-host, e.g. from robots crawl_delay) limit; a null cap_col value
    means uncapped for that host. At least one of the two must be set.
    """
    if budget is not None and cap_col is not None:
        cap = F.least(F.lit(budget), cap_col)  # least() ignores nulls
    elif cap_col is not None:
        cap = cap_col
    else:
        assert budget is not None, "budget_rank needs budget and/or cap_col"
        cap = F.lit(budget)

    if salt_col is not None:
        salted = df.withColumn("_salt", F.pmod(salt_col, F.lit(salt_buckets)))
        wpre = Window.partitionBy(host_col, "_salt").orderBy(*order_cols)
        pre = salted.withColumn("_prn", F.row_number().over(wpre))
        keep_pre = cap.isNull() | (F.col("_prn") <= cap)
        survivors = pre.where(keep_pre).drop("_salt", "_prn")
        # rows eliminated by the prefilter are deferred by construction
        pre_deferred = pre.where(~keep_pre).drop("_salt", "_prn")
    else:
        survivors, pre_deferred = df, None

    w = Window.partitionBy(host_col).orderBy(*order_cols)
    ranked = survivors.withColumn("_rn", F.row_number().over(w))
    keep = cap.isNull() | (F.col("_rn") <= cap)
    within = ranked.where(keep).drop("_rn")
    deferred = ranked.where(~keep).drop("_rn")
    if pre_deferred is not None:
        deferred = deferred.unionByName(pre_deferred)
    return within, deferred


def fifo_order(df: DataFrame, seq_col: str = "enqueue_seq") -> DataFrame:
    """W2: global FIFO materialization (for crawl-order comparison only —
    a global sort is a test/report operation, never in the round loop)."""
    return df.orderBy(seq_col)
