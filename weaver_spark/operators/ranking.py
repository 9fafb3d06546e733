"""Ordering and per-key budget operators (SURVEY.md W1/W2 + north rule).

- ``dense_seq_numeric``: the one distributed prefix sum — deterministic,
  partition-count-independent running sums of a weight in a given sort
  order. With unit weight it is the frontier's FIFO ``enqueue_seq``
  (reference uses UnixNano ids, ``/root/reference/src/queue/main.go:35``,
  which are racy; determinism requires a derived order — SURVEY.md C5);
  with a byte weight, ``curation.plan_shards``' byte offsets.
  Implemented scalably: equal-width buckets of the numeric leading
  column + per-bucket offsets + an in-bucket window, never a single
  global window.
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


def seq_bucket(
    lead: Column | str, bounds: tuple[int, int], num_partitions: int
) -> Column:
    """The bucket ``dense_seq_numeric`` gives a row: ``num_partitions``
    equal-width buckets of the numeric ``lead`` over ``bounds`` (lo, hi),
    and bucket -1 for a null lead, which sorts before every other. A
    caller that sums weights per bucket inside a job of its own (the
    ``counts=`` path) buckets with this same expression, so its counts
    and the sequencer's buckets always agree."""
    lo, hi = bounds
    span = max(1, -(-(hi - lo + 1) // num_partitions))  # ceil division
    col = F.col(lead) if isinstance(lead, str) else lead
    # in double: monotone in the lead, which is all the buckets need,
    # and no long overflow when the leads span more than 2^63
    bucket = F.floor((col.cast("double") - float(lo)) / float(span)).cast("int")
    return F.coalesce(bucket, F.lit(-1))


def dense_seq_numeric(
    df: DataFrame,
    order_cols: list[Column | str],
    seq_col: str = "enqueue_seq",
    start: int = 0,
    num_partitions: int | None = None,
    bounds: tuple[int, int] | None = None,
    counts: dict[int, int] | None = None,
    weight: str | None = None,
) -> DataFrame:
    """Distributed exclusive prefix sum of the ``weight`` column (default
    1 per row) in the total order of ``order_cols``, whose leading column is
    numeric: ``seq = start + sum(weight) over the earlier rows``. With
    unit weight that is start, start+1, ... — the frontier's FIFO
    ``enqueue_seq``; with a byte weight, ``plan_shards``' byte offsets.
    ``order_cols`` must be a strict total order (ties would make the
    result nondeterministic).

    Equal-width buckets of the leading column (``seq_bucket``) split the
    rows; a bucket's offset is ``start`` plus the weight of every earlier
    bucket (one tiny driver collect of per-bucket sums, a map literal),
    and a window within each bucket adds the weight of the bucket's
    earlier rows. No global single-partition window, so this holds at
    10^10 rows. The bucket of a row is a pure function of its key: no
    boundary sampling, so nothing to pin between the offsets job and
    the output. Bucketing only the LEADING column is order-preserving
    for the full key (equal leads share a bucket, ordered within by the
    window). Null leads sort first, as an ascending sort places them:
    they share bucket -1. An uneven lead costs parallelism, never
    correctness.

    Jobs: at most two tiny ones, both map-side partial with O(buckets)
    exchanges, and none when the caller knows both inputs:

    - ``bounds`` (lo, hi) skips the min/max job. Any RANGE COVERING the
      leading column works: conservative (wider) bounds keep the bucket
      function monotone in the leading column, so per-bucket offsets +
      in-bucket ordering assign the IDENTICAL sequence numbers; unused
      sub-ranges only show up as empty buckets.
    - ``counts`` {bucket: summed weight of ``df``'s rows}, bucketed by
      ``seq_bucket`` with the same ``bounds`` and ``num_partitions``,
      skips the per-bucket job (the engine sums them from the round's
      stats rollup). Buckets missing from it hold no rows; extra
      zero-count buckets are harmless.
    """
    spark = df.sparkSession
    if num_partitions is None:
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    lead = order_cols[0]
    if bounds is None:
        assert counts is None, "counts are per bucket of the given bounds"
        row = df.agg(F.min(lead).alias("lo"), F.max(lead).alias("hi")).collect()[0]
        # no non-null lead: every row (if any) falls in the null bucket
        bounds = (0, 0) if row["lo"] is None else (int(row["lo"]), int(row["hi"]))
    b = df.withColumn("_bkt", seq_bucket(lead, bounds, num_partitions)).withColumn(
        "_wt", F.lit(1) if weight is None else F.col(weight)
    )
    if counts is None:
        counts = {
            r["_bkt"]: r["w"]
            for r in b.groupBy("_bkt").agg(F.sum("_wt").alias("w")).collect()
        }
    offsets, acc = [], start
    for k in sorted(counts):
        offsets += [F.lit(k), F.lit(acc)]
        acc += counts[k] or 0  # a bucket whose weights are all null sums to None
    # empty input: no offsets to map, and no row to give one
    offset = F.create_map(*offsets)[F.col("_bkt")] if offsets else F.lit(start)
    earlier = (
        Window.partitionBy("_bkt")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return b.withColumn(
        seq_col,
        (offset + F.coalesce(F.sum("_wt").over(earlier), F.lit(0))).cast("long"),
    ).drop("_bkt", "_wt")


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
