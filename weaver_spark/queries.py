"""Driver-contract query registry: Spark DataFrame queries + DuckDB oracles.

Each entry re-expresses one operator from SURVEY.md §2 (or a
training-data-pipeline operator the 100 TB use case needs) over the
driver's testdata tables, with an ANSI-SQL oracle DuckDB runs on the same
parquet. Conventions that make cross-engine value-hashes stable:

- every aggregate/computed column is aliased identically on both sides;
- float aggregation goes through DECIMAL (order-independent, exact) and
  is rounded + cast to DOUBLE at the end;
- timestamps leave as epoch microseconds (BIGINT) — Spark ``unix_micros``
  == DuckDB ``epoch_us`` under the UTC-pinned session;
- set-valued results are serialized as sorted comma-joined strings
  (Spark ``array_join(sort_array(collect_set(x)))`` == DuckDB
  ``string_agg(DISTINCT x ORDER BY x)``).

The crawl-engine operators are mapped onto the events table (events ==
frontier messages: event_id -> enqueue_seq, user_id -> host, event_type
-> url_type/status, value -> priority), since the DuckDB side only sees
the driver's registered views.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _spread(df: DataFrame) -> DataFrame:
    """Floor a SMALL scan to the session's parallelism before per-row-
    heavy map work (r7, guide §2.5/§6).

    The driver's testdata tables are single parquet files with a single
    row group, so they scan as ONE task no matter what
    ``maxPartitionBytes``/``minPartitionNum`` say (splits cannot cross
    row groups) — and every tokenizer/md5/higher-order-function
    expression above such a scan runs on one core. A round-robin
    ``repartition(defaultParallelism)`` spreads the rows; it moves only
    the pruned scan columns (a few MB here) and is SKIPPED whenever the
    scan already parallelizes — i.e. any real-scale input — so at 100 TB
    this is a no-op, never a corpus-wide exchange. Row placement does
    not affect any registry result (aggregates, sorted collect_lists and
    total-order windows are partition-invariant)."""
    sess = df.sparkSession
    target = sess.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= max(2, target // 2):
        return df
    return df.repartition(target)


DEC = "decimal(28,6)"

# ---------------------------------------------------------------------------
# TPC-H-shaped relational core (scan/filter/agg/join/window/limit)
# ---------------------------------------------------------------------------


def q1_pricing_summary(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q1: scan + filter + hash aggregate with exact decimal sums.

    Maps SURVEY.md A-category (partial+final agg free via Catalyst)."""
    li = _t(spark, sf, "lineitem")
    qty = F.col("l_quantity").cast(DEC)
    price = F.col("l_extendedprice").cast(DEC)
    disc = F.col("l_discount").cast(DEC)
    tax = F.col("l_tax").cast(DEC)
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(qty), 2).cast("double").alias("sum_qty"),
            F.round(F.sum(price), 2).cast("double").alias("sum_base_price"),
            F.round(F.sum(price * (1 - disc)), 2).cast("double").alias("sum_disc_price"),
            F.round(F.sum(price * (1 - disc) * (1 + tax)), 2)
            .cast("double")
            .alias("sum_charge"),
            F.round(F.sum(qty) / F.count("*"), 4).cast("double").alias("avg_qty"),
            F.round(F.sum(disc) / F.count("*"), 4).cast("double").alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


Q1_SQL = """
SELECT l_returnflag, l_linestatus,
  CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(28,6))), 2) AS DOUBLE) AS sum_qty,
  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(28,6))), 2) AS DOUBLE) AS sum_base_price,
  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(28,6)) * (1 - CAST(l_discount AS DECIMAL(28,6)))), 2) AS DOUBLE) AS sum_disc_price,
  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(28,6)) * (1 - CAST(l_discount AS DECIMAL(28,6))) * (1 + CAST(l_tax AS DECIMAL(28,6)))), 2) AS DOUBLE) AS sum_charge,
  CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(28,6))) / COUNT(*), 4) AS DOUBLE) AS avg_qty,
  CAST(ROUND(SUM(CAST(l_discount AS DECIMAL(28,6))) / COUNT(*), 4) AS DOUBLE) AS avg_disc,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q3_shipping_priority(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q3: 3-way join + agg + top-10 (broadcast dim, TakeOrdered).

    Join order (r7): orders is filtered through the BUILDING customer
    dim FIRST, so the relation joined against lineitem is ~1/5 of
    orders projected to (o_orderkey, o_orderdate) — the fact table
    joins against the smallest possible build side (guide §3.1) and
    the customer filter prunes before, not after, the big join. Inner
    joins commute, so the result is unchanged."""
    cust = _t(spark, sf, "customer").where(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    rev = (F.col("l_extendedprice").cast(DEC) * (1 - F.col("l_discount").cast(DEC)))
    ord_f = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey).select(
        "o_orderkey", "o_orderdate"
    )
    # broadcast the FILTERED side: without the hint the planner's size
    # estimate picks the (column-pruned) lineitem scan as build side — a
    # 6M-row broadcast. |σ(orders)| is ~|orders|/5 projected to 2 cols;
    # on a cluster where even filtered orders exceed the broadcast
    # budget, drop the hint and AQE falls back to SMJ.
    return (
        li.join(F.broadcast(ord_f), li.l_orderkey == ord_f.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.round(F.sum(rev), 2).cast("double").alias("revenue"))
        .select(
            "l_orderkey",
            F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("o_orderdate_us"),
            "revenue",
        )
        .orderBy(F.col("revenue").desc(), "o_orderdate_us", "l_orderkey")
        .limit(10)
    )


Q3_SQL = """
SELECT l_orderkey, epoch_us(o_orderdate) AS o_orderdate_us,
  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(28,6)) * (1 - CAST(l_discount AS DECIMAL(28,6)))), 2) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderdate_us, l_orderkey
LIMIT 10
"""


def region_supplier_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Dim-chain broadcast joins + aggregate (J-category upgrade row)."""
    sup = _t(spark, sf, "supplier")
    nat = _t(spark, sf, "nation")
    reg = _t(spark, sf, "region")
    return (
        sup.join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count("*").alias("n_suppliers"),
            F.round(F.sum(F.col("s_acctbal").cast(DEC)), 2)
            .cast("double")
            .alias("sum_acctbal"),
        )
    )


REGION_SQL = """
SELECT r_name, COUNT(*) AS n_suppliers,
  CAST(ROUND(SUM(CAST(s_acctbal AS DECIMAL(28,6))), 2) AS DOUBLE) AS sum_acctbal
FROM supplier JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""

# ---------------------------------------------------------------------------
# Crawl-engine operators mapped onto testdata (SURVEY.md §2)
# ---------------------------------------------------------------------------


def gather_merge(spark: SparkSession, sf: str) -> DataFrame:
    """A1/J2 `gather`: group-by-key merge with first-wins + address set
    (reference src/client/main.go:153-196). orders as the store scan."""
    o = _t(spark, sf, "orders")
    return o.groupBy("o_custkey").agg(
        F.count("*").alias("n_orders"),
        F.unix_micros(F.min("o_orderdate").cast("timestamp")).alias("first_order_us"),
        F.array_join(F.sort_array(F.collect_set("o_orderpriority")), ",").alias(
            "priorities"
        ),
    )


GATHER_SQL = """
SELECT o_custkey, COUNT(*) AS n_orders,
  epoch_us(MIN(o_orderdate)) AS first_order_us,
  string_agg(DISTINCT o_orderpriority, ',' ORDER BY o_orderpriority) AS priorities
FROM orders GROUP BY o_custkey
"""


def storage_dedup_antijoin(spark: SparkSession, sf: str) -> DataFrame:
    """J1 storage dedup: left-anti membership (reference
    src/storage/main.go:146-151). Customers with no stored orders."""
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    return c.join(o.select("o_custkey"), c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


ANTIJOIN_SQL = """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


def frontier_fifo_batch(spark: SparkSession, sf: str) -> DataFrame:
    """W2/S3 FIFO pop: first N visible messages in insertion order
    (reference src/queue/main.go:47-61). events as the frontier."""
    e = _t(spark, sf, "events")
    return (
        e.orderBy("ts", "event_id")
        .limit(500)
        .select("event_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"), "user_id", "event_type")
    )


FIFO_SQL = """
SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type
FROM events ORDER BY ts, event_id LIMIT 500
"""


def url_type_dispatch(spark: SparkSession, sf: str) -> DataFrame:
    """F4 dispatch-by-type counts (reference queueService.go:169-197)."""
    e = _t(spark, sf, "events")
    return e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.countDistinct("user_id").alias("n_users"),
    )


DISPATCH_SQL = """
SELECT event_type, COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users
FROM events GROUP BY event_type
"""


def lease_reclaim_filter(spark: SparkSession, sf: str) -> DataFrame:
    """F2 lease-expiry predicate (reference src/queue/main.go:76-87):
    'leased' (error) messages older than the visibility cutoff."""
    e = _t(spark, sf, "events")
    cutoff = F.lit("2024-01-15 00:00:00").cast("timestamp")
    return (
        e.where((F.col("event_type") == "error") & (F.col("ts") < cutoff))
        .select("event_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"), "user_id")
    )


RECLAIM_SQL = """
SELECT event_id, epoch_us(ts) AS ts_us, user_id FROM events
WHERE event_type = 'error' AND ts < TIMESTAMP '2024-01-15 00:00:00'
"""


def topk_links_per_page(spark: SparkSession, sf: str) -> DataFrame:
    """W1 per-page link cap (reference amazonRootHandler.go:33-43 k=3):
    top-3 lineitems per order in deterministic 'DOM order'."""
    li = _spread(_t(spark, sf, "lineitem"))
    w = Window.partitionBy("l_orderkey").orderBy(
        F.col("l_extendedprice").desc(), F.col("l_linenumber")
    )
    return (
        li.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("l_orderkey", "l_linenumber", "rk")
    )


TOPK_SQL = """
SELECT l_orderkey, l_linenumber, rk FROM (
  SELECT l_orderkey, l_linenumber,
    ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY l_extendedprice DESC, l_linenumber) AS rk
  FROM lineitem) WHERE rk <= 3
"""


def politeness_budget_rank(spark: SparkSession, sf: str) -> DataFrame:
    """North-rule politeness window: <=2 fetches per host per round,
    highest priority first (host=user_id, priority=value)."""
    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("value").desc(), F.col("event_id"))
    return (
        e.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 2)
        .select("user_id", "event_id", "rk")
    )


BUDGET_SQL = """
SELECT user_id, event_id, rk FROM (
  SELECT user_id, event_id,
    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rk
  FROM events) WHERE rk <= 2
"""


def host_priority_schedule(spark: SparkSession, sf: str) -> DataFrame:
    """The flagship scheduler query: synthesize a frontier from events
    (host = hash-partition class, priority from type), rank per host by
    (priority DESC, enqueue_seq) within budget 5 — the '(priority,
    host-delay) window' of the north rule."""
    e = _t(spark, sf, "events")
    fr = e.select(
        F.col("event_id").alias("enqueue_seq"),
        F.concat(F.lit("h"), (F.col("user_id") % 8).cast("string"), F.lit(".test")).alias(
            "host"
        ),
        F.when(F.col("event_type") == "purchase", 2)
        .when(F.col("event_type") == "click", 1)
        .otherwise(0)
        .alias("priority"),
    )
    w = Window.partitionBy("host").orderBy(F.col("priority").desc(), F.col("enqueue_seq"))
    return (
        fr.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 5)
        .select("host", "enqueue_seq", "priority", "rk")
    )


SCHEDULE_SQL = """
WITH fr AS (
  SELECT event_id AS enqueue_seq,
    'h' || CAST(user_id % 8 AS VARCHAR) || '.test' AS host,
    CASE event_type WHEN 'purchase' THEN 2 WHEN 'click' THEN 1 ELSE 0 END AS priority
  FROM events)
SELECT host, enqueue_seq, priority, rk FROM (
  SELECT host, enqueue_seq, priority,
    ROW_NUMBER() OVER (PARTITION BY host ORDER BY priority DESC, enqueue_seq) AS rk
  FROM fr) WHERE rk <= 5
"""

def robots_disallow_filter(spark: SparkSession, sf: str) -> DataFrame:
    """North-rule robots cache enforcement (operators/robots.apply_robots
    shape): a broadcast-joined per-host disallow/allow-prefix table
    filters the frontier map-side — no frontier shuffle; precedence is
    longest matching prefix wins, ties to Allow (the de-facto Google
    semantics). Frontier synthesized from events (host from user_id,
    path from event_type)."""
    e = _t(spark, sf, "events")
    fr = e.select(
        F.col("event_id").alias("enqueue_seq"),
        F.concat(F.lit("h"), (F.col("user_id") % 8).cast("string"), F.lit(".test")).alias(
            "host"
        ),
        F.concat(
            F.lit("/"), F.col("event_type"), F.lit("/"), F.col("event_id").cast("string")
        ).alias("path"),
    )
    robots = spark.createDataFrame(
        [
            ("h0.test", ["/click/", "/view/"], ["/view/"]),
            ("h3.test", ["/purchase/"], []),
            ("h5.test", ["/"], ["/click/"]),
        ],
        "host string, disallow_prefixes array<string>, allow_prefixes array<string>",
    )
    joined = fr.join(F.broadcast(robots), "host", "left")
    # the ONE shared precedence rule — same expression apply_robots uses
    from .operators.robots import disallowed_expr

    disallowed = disallowed_expr(
        F.col("path"), F.col("disallow_prefixes"), F.col("allow_prefixes")
    )
    return joined.where(~disallowed).select("host", "enqueue_seq", "path")


ROBOTS_SQL = """
WITH fr AS (
  SELECT event_id AS enqueue_seq,
    'h' || CAST(user_id % 8 AS VARCHAR) || '.test' AS host,
    '/' || event_type || '/' || CAST(event_id AS VARCHAR) AS path
  FROM events),
robots AS (
  SELECT * FROM (VALUES
    ('h0.test', ['/click/', '/view/'], ['/view/']),
    ('h3.test', ['/purchase/'], CAST([] AS VARCHAR[])),
    ('h5.test', ['/'], ['/click/'])) AS t(host, disallow_prefixes, allow_prefixes))
SELECT fr.host, enqueue_seq, path
FROM fr LEFT JOIN robots ON fr.host = robots.host
WHERE NOT COALESCE(
  COALESCE(list_max(list_transform(
    list_filter(disallow_prefixes, p -> starts_with(path, p)), p -> len(p))), 0)
  > COALESCE(list_max(list_transform(
    list_filter(allow_prefixes, p -> starts_with(path, p)), p -> len(p))), 0),
  FALSE)
"""


def crawl_delay_schedule(spark: SparkSession, sf: str) -> DataFrame:
    """Crawl-delay politeness: per-host per-round fetch caps derived from
    robots crawl_delay_ms via the engine's delay_cap_expr rule
    (operators/robots.py) feeding the (priority, enqueue_seq) window —
    the full scheduler composition of the north rule."""
    from weaver_spark.operators.robots import delay_cap_expr

    e = _t(spark, sf, "events")
    fr = e.select(
        F.col("event_id").alias("enqueue_seq"),
        F.concat(F.lit("h"), (F.col("user_id") % 8).cast("string"), F.lit(".test")).alias(
            "host"
        ),
        F.when(F.col("event_type") == "purchase", 2)
        .when(F.col("event_type") == "click", 1)
        .otherwise(0)
        .alias("priority"),
        (250 * (F.col("user_id") % 8 % 4)).cast("int").alias("crawl_delay_ms"),
    ).withColumn("cap", delay_cap_expr(1000))
    w = Window.partitionBy("host").orderBy(F.col("priority").desc(), F.col("enqueue_seq"))
    return (
        fr.withColumn("rk", F.row_number().over(w))
        .where(F.col("cap").isNull() | (F.col("rk") <= F.col("cap")))
        .select("host", "enqueue_seq", "priority", "rk", "cap")
    )


CRAWL_DELAY_SQL = """
WITH fr AS (
  SELECT event_id AS enqueue_seq,
    'h' || CAST(user_id % 8 AS VARCHAR) || '.test' AS host,
    CASE event_type WHEN 'purchase' THEN 2 WHEN 'click' THEN 1 ELSE 0 END AS priority,
    250 * (user_id % 8 % 4) AS delay_ms
  FROM events),
capped AS (
  SELECT enqueue_seq, host, priority,
    CASE WHEN delay_ms <= 0 THEN NULL
         ELSE GREATEST(1, CAST(1000 / delay_ms AS INTEGER)) END AS cap
  FROM fr)
SELECT host, enqueue_seq, priority, rk, cap FROM (
  SELECT host, enqueue_seq, priority, cap,
    ROW_NUMBER() OVER (PARTITION BY host ORDER BY priority DESC, enqueue_seq) AS rk
  FROM capped) WHERE cap IS NULL OR rk <= cap
"""

# ---------------------------------------------------------------------------
# Training-data pipeline: dedup / text / similarity (documents, embeddings)
# ---------------------------------------------------------------------------

_TOKENIZE_SPARK = "filter(split(lower(text), '[^a-z0-9]+'), t -> t <> '')"


def dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Exact dedup by content hash-groupBy: canonical id per text."""
    d = _t(spark, sf, "documents")
    return d.groupBy("text").agg(
        F.min("doc_id").alias("canonical_id"), F.count("*").alias("n_copies")
    ).select("canonical_id", "n_copies")


DEDUP_EXACT_SQL = """
SELECT MIN(doc_id) AS canonical_id, COUNT(*) AS n_copies
FROM documents GROUP BY text
"""


def doc_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    """Content fingerprint: md5 of normalized text (C-category hashing)."""
    d = _t(spark, sf, "documents")
    return d.select(
        "doc_id", F.md5(F.lower(F.trim(F.col("text")))).alias("fingerprint")
    )


FINGERPRINT_SQL = "SELECT doc_id, md5(lower(trim(text))) AS fingerprint FROM documents"


def token_count(spark: SparkSession, sf: str) -> DataFrame:
    """Whitespace/regex token counting over documents."""
    d = _spread(_t(spark, sf, "documents"))
    return d.select(
        "doc_id",
        F.size(F.expr(_TOKENIZE_SPARK)).alias("n_tokens"),
        F.length("text").alias("n_chars_raw"),
    )


TOKEN_COUNT_SQL = """
SELECT doc_id,
  len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS n_tokens,
  length(text) AS n_chars_raw
FROM documents
"""


_BPE_RE = r"'(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^\sa-zA-Z0-9]+"


def token_stats(spark: SparkSession, sf: str) -> DataFrame:
    """The two standard token-count estimators over documents:
    whitespace split (the cheap lower bound) and a BPE-ish regex (the
    GPT-2 pre-tokenizer shape — contraction suffixes, space-prefixed
    letter runs, digit runs, punctuation runs — the usual proxy for
    'how many LLM tokens is this corpus'). Both are single JVM-side
    regex passes (regexp_extract_all / split), no Python; at 100 TB
    this is a pure map stage with only `text` read from the scan."""
    d = _spread(_t(spark, sf, "documents"))
    return d.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).alias("ws_tokens"),
        F.size(
            F.regexp_extract_all(F.col("text"), F.lit(_BPE_RE), 0)
        ).alias("bpe_tokens"),
    )


TOKEN_STATS_SQL = """
SELECT doc_id,
  len(regexp_split_to_array(trim(text), '\\s+')) AS ws_tokens,
  len(regexp_extract_all(text,
      '''(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^\\sa-zA-Z0-9]+', 0))
    AS bpe_tokens
FROM documents
"""


def quality_score(spark: SparkSession, sf: str) -> DataFrame:
    """Quality heuristics: stopword ratio + mean token length + distinct
    token ratio (the classic crawl-corpus filters)."""
    d = _spread(_t(spark, sf, "documents"))
    toks = F.expr(_TOKENIZE_SPARK)
    n = F.size(toks)
    stop = F.size(F.expr(
        "filter(" + _TOKENIZE_SPARK + ", t -> t IN ('a','the','and','of','to'))"
    ))
    distinct_n = F.size(F.array_distinct(toks))
    return d.select(
        "doc_id",
        n.alias("n_tokens"),
        F.round(stop.cast("double") / n, 4).alias("stop_ratio"),
        F.round(distinct_n.cast("double") / n, 4).alias("distinct_ratio"),
    )


QUALITY_SQL = """
WITH t AS (SELECT doc_id,
    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM documents)
SELECT doc_id, len(toks) AS n_tokens,
  ROUND(CAST(len(list_filter(toks, x -> x IN ('a','the','and','of','to'))) AS DOUBLE) / len(toks), 4) AS stop_ratio,
  ROUND(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 4) AS distinct_ratio
FROM t
"""


def minhash_signatures(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash signatures (k=4, md5 double-seeded) over unigram sets —
    the shingle->minhash stage of MinHash-LSH dedup.

    r7 plan: a pure MAP pass — min(md5(seed|tok)) over a doc's distinct
    token set is ``array_min(transform(array_distinct(tokens), ...))``
    per row, so the explode -> distinct -> groupBy pipeline (two
    exchanges + sort aggregates over |doc| x |tokens| rows) collapses
    to zero shuffles (guide §2.4). min over a multiset equals min over
    its distinct set and docs with no tokens never produced a group, so
    the ``size > 0`` filter reproduces the old row set exactly.
    ``_spread`` floors the map pass to the session's cores (the
    single-file scan otherwise runs the whole tokenizer+md5 pass on one
    task)."""
    d = _spread(_t(spark, sf, "documents"))
    base = d.select(
        "doc_id", F.array_distinct(F.expr(_TOKENIZE_SPARK)).alias("_toks")
    ).where(F.size("_toks") > 0)
    sig_cols = [
        F.array_min(
            F.transform(
                F.col("_toks"), lambda t: F.md5(F.concat(F.lit(f"s{i}|"), t))
            )
        ).alias(f"m{i}")
        for i in range(1, 5)
    ]
    return base.select("doc_id", *sig_cols)


MINHASH_SQL = """
WITH tok AS (
  SELECT DISTINCT doc_id, t.tok FROM documents,
    UNNEST(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS t(tok))
SELECT doc_id,
  MIN(md5('s1|' || tok)) AS m1, MIN(md5('s2|' || tok)) AS m2,
  MIN(md5('s3|' || tok)) AS m3, MIN(md5('s4|' || tok)) AS m4
FROM tok GROUP BY doc_id
"""


def minhash_lsh_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """LSH banding: candidate pairs colliding on band (m1,m2) or (m3,m4)
    — the band->bucket-join stage of MinHash-LSH dedup, with the
    bucket-size cap every banded self-join needs at scale (buckets
    holding > 100 docs are dropped — over-cap buckets are
    exact-dup-shaped and would emit O(|bucket|^2) pairs; mirrored in the
    oracle's HAVING).

    Plan: both bands explode from the (map-only) signature pass into
    (band, k1, k2) rows, and the dedup family's one pair generator
    (operators/dedup.capped_postings + suffix_pairs) collects each
    bucket's sorted doc list — at most 101 rows per bucket ever reach
    the list, so a hot bucket is dropped without being materialized —
    and emits a bucket of n docs' n(n-1)/2 pairs {(a, b) : a < b} in
    place: one keyed exchange shared by both bands, the same pair set
    the oracle's self-join yields."""
    from .operators.dedup import capped_postings, suffix_pairs

    sig = minhash_signatures(spark, sf)
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(
                F.struct(
                    F.lit(1).alias("band"),
                    F.col("m1").alias("k1"),
                    F.col("m2").alias("k2"),
                ),
                F.struct(
                    F.lit(2).alias("band"),
                    F.col("m3").alias("k1"),
                    F.col("m4").alias("k2"),
                ),
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.k1", "bb.k2")
    postings = capped_postings(bands, ["band", "k1", "k2"], "doc_id", 100)
    return suffix_pairs(postings, "doc_a", "doc_b").distinct()


MINHASH_PAIRS_SQL = """
WITH tok AS (
  SELECT DISTINCT doc_id, t.tok FROM documents,
    UNNEST(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS t(tok)),
sig AS (
  SELECT doc_id,
    MIN(md5('s1|' || tok)) AS m1, MIN(md5('s2|' || tok)) AS m2,
    MIN(md5('s3|' || tok)) AS m3, MIN(md5('s4|' || tok)) AS m4
  FROM tok GROUP BY doc_id),
ok1 AS (SELECT m1, m2 FROM sig GROUP BY m1, m2 HAVING COUNT(*) <= 100),
ok2 AS (SELECT m3, m4 FROM sig GROUP BY m3, m4 HAVING COUNT(*) <= 100)
SELECT DISTINCT doc_a, doc_b FROM (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM sig a JOIN sig b
    ON a.m1 = b.m1 AND a.m2 = b.m2 AND a.doc_id < b.doc_id
    JOIN ok1 ON a.m1 = ok1.m1 AND a.m2 = ok1.m2
  UNION ALL
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM sig a JOIN sig b
    ON a.m3 = b.m3 AND a.m4 = b.m4 AND a.doc_id < b.doc_id
    JOIN ok2 ON a.m3 = ok2.m3 AND a.m4 = ok2.m4)
"""


def simhash16(spark: SparkSession, sf: str) -> DataFrame:
    """16-bit SimHash over unigram md5 hashes (bit-majority vote).

    r7 note (measured, kept as-is): a zero-shuffle rewrite (per-row
    bit counts over the token array) was tried and REVERTED — the
    md5/conv transform and per-bit filters run as interpreted
    higher-order lambdas, which measured slower end-to-end at sf1.0
    (count 1.8 -> 2.3 s, noop 4.0 -> 6.0 s) than this explode shape,
    whose md5 + 16 sum aggregates all run in whole-stage codegen and
    whose single exchange carries only (doc_id, h) ints. Guide §1.1:
    the "ideal" shuffle-free plan lost to the codegen gotcha, so the
    empirical winner stays. ``_spread`` parallelizes the tokenize +
    explode + md5 map side of the single-file scan."""
    d = _spread(_t(spark, sf, "documents"))
    tok = d.select(
        "doc_id", F.explode(F.expr(_TOKENIZE_SPARK)).alias("tok")
    ).withColumn("h", F.conv(F.substring(F.md5("tok"), 1, 4), 16, 10).cast("int"))
    bit_sums = [
        F.sum(
            (F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) * 2 - 1)
        ).alias(f"s{b}")
        for b in range(16)
    ]
    per_doc = tok.groupBy("doc_id").agg(*bit_sums)
    sim = None
    for b in range(16):
        term = F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return per_doc.select("doc_id", sim.cast("long").alias("simhash"))


_SIMHASH_BITS = " + ".join(
    f"(CASE WHEN SUM(((h >> {b}) & 1) * 2 - 1) > 0 THEN {1 << b} ELSE 0 END)"
    for b in range(16)
)
SIMHASH_SQL = f"""
WITH tok AS (
  SELECT doc_id, ('0x' || substr(md5(t.tok), 1, 4))::INTEGER AS h
  FROM documents,
    UNNEST(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS t(tok))
SELECT doc_id, CAST({_SIMHASH_BITS} AS BIGINT) AS simhash
FROM tok GROUP BY doc_id
"""


def ngram_jaccard_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Near-dup pairs by exact Jaccard over distinct unigram sets:
    candidate generation by shared token WITH max_df stop-token blocking
    (tokens in more than half the corpus are dropped before any join —
    stopwords generate quadratic candidate pairs without adding near-dup
    evidence), then exact verify over the blocked sets. Same semantics as
    the library operator (operators/dedup.dedup_ngram_jaccard, max_df);
    mirrored token-for-token in JACCARD_SQL so the oracle compares the
    identical definition.

    Plan: per-doc distinct tokens come from ``array_distinct`` in the
    map pass (no ``.distinct()`` exchange — (doc, tok) duplicates only
    ever arise within one doc), then ``operators/dedup.jaccard_counts``:
    ONE capped posting-list exchange per token (``capped_postings``,
    which drops a token in more than floor(n/2) docs after at most
    floor(n/2)+1 of its rows reach the list), from which per-doc sizes
    (singleton tokens included, like the oracle's ``sizes``) and
    intersection counts (``suffix_pairs`` counted per pair = |shared
    kept tokens|) both derive. Rounding to 4 places and the >= 0.8
    threshold on the rounded value match JACCARD_SQL."""
    from .operators.dedup import jaccard_counts

    d = _t(spark, sf, "documents")
    n_docs = d.count()
    tok = _spread(d).select(
        "doc_id", F.explode(F.array_distinct(F.expr(_TOKENIZE_SPARK))).alias("tok")
    )
    return (
        jaccard_counts(tok, "doc_id", "tok", int(0.5 * n_docs), "doc_a", "doc_b")
        .withColumn("jaccard", F.round("jaccard", 4))
        .where(F.col("jaccard") >= 0.8)
    )


JACCARD_SQL = """
WITH tok0 AS (
  SELECT DISTINCT doc_id, t.tok FROM documents,
    UNNEST(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS t(tok)),
keep AS (
  SELECT tok FROM tok0 GROUP BY tok
  HAVING COUNT(*) <= FLOOR(0.5 * (SELECT COUNT(*) FROM documents))),
tok AS (SELECT tok0.doc_id, tok0.tok FROM tok0 JOIN keep USING (tok)),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM tok GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
  FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id)
SELECT doc_a, doc_b,
  ROUND(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 4) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE ROUND(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 4) >= 0.8
"""


def _clusters_pair_graph(spark: SparkSession, sf: str) -> DataFrame:
    """The shared pair graph for the cluster-resolution queries: real
    ngram-Jaccard near-dup pairs (>= 0.8) UNION deterministic planted
    3-node chains over doc_id anchors 400..490 — chains are the
    adversarial case for naive one-hop propagation (min reaches the
    tail only through iteration) and give the resolver multiple
    components to keep separate."""
    pairs = ngram_jaccard_pairs(spark, sf).select("doc_a", "doc_b")
    d = _t(spark, sf, "documents")
    anchors = d.select("doc_id").where(
        (F.col("doc_id") % 10 == 0) & F.col("doc_id").between(400, 490)
    )
    chains = anchors.select(
        F.col("doc_id").alias("doc_a"), (F.col("doc_id") + 3).alias("doc_b")
    ).unionByName(
        anchors.select(
            (F.col("doc_id") + 3).alias("doc_a"),
            (F.col("doc_id") + 6).alias("doc_b"),
        )
    )
    return pairs.unionByName(chains)


def neardup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Near-dup CLUSTER RESOLUTION — the step after candidate pairs
    that every dedup tier feeds (operators/dedup.connected_components:
    alternating large-star/small-star min-id propagation, O(log n)
    keyed self-join rounds, no driver state): pairs -> (doc_id,
    canonical_id, cluster_size), canonical = min id in the component —
    the same min-id-wins rule as dedup_exact, so `keep doc_id ==
    canonical_id` IS the dedup decision.

    Pair graph = `_clusters_pair_graph` (real jaccard pairs + planted
    chains). The DuckDB oracle computes the identical components via a
    recursive CTE (transitive closure + min per node)."""
    from .operators.dedup import dedup_resolve

    res = dedup_resolve(_clusters_pair_graph(spark, sf), "doc_a", "doc_b")
    sizes = res.groupBy("canonical_id").agg(F.count("*").alias("cluster_size"))
    return res.join(sizes, "canonical_id").select(
        "doc_id", "canonical_id", "cluster_size"
    )


# the recursive-closure CTE body shared by the clusters and keep oracles:
# the exact JACCARD_SQL pair definition + planted chains, resolved to
# components by recursive transitive closure (min reachable id per node)
_CANON_CTE = """
WITH RECURSIVE tok0 AS (
  SELECT DISTINCT doc_id, t.tok FROM documents,
    UNNEST(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS t(tok)),
keep AS (
  SELECT tok FROM tok0 GROUP BY tok
  HAVING COUNT(*) <= FLOOR(0.5 * (SELECT COUNT(*) FROM documents))),
tok AS (SELECT tok0.doc_id, tok0.tok FROM tok0 JOIN keep USING (tok)),
sizes AS (SELECT doc_id, COUNT(*) AS sz FROM tok GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
  FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id),
jpairs AS (
  SELECT doc_a, doc_b FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE ROUND(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 4) >= 0.8),
anchors AS (
  SELECT doc_id FROM documents
  WHERE doc_id % 10 = 0 AND doc_id BETWEEN 400 AND 490),
allp AS (
  SELECT doc_a, doc_b FROM jpairs
  UNION ALL SELECT doc_id, doc_id + 3 FROM anchors
  UNION ALL SELECT doc_id + 3, doc_id + 6 FROM anchors),
edges AS (
  SELECT doc_a AS u, doc_b AS v FROM allp
  UNION
  SELECT doc_b AS u, doc_a AS v FROM allp),
reach (node, r) AS (
  SELECT u, v FROM edges
  UNION
  SELECT reach.node, edges.v FROM reach JOIN edges ON reach.r = edges.u),
canon AS (
  SELECT node AS doc_id, LEAST(node, MIN(r)) AS canonical_id
  FROM reach GROUP BY node)
"""

NEARDUP_CLUSTERS_SQL = (
    _CANON_CTE
    + """
SELECT c.doc_id, c.canonical_id, s.cluster_size
FROM canon c JOIN (
  SELECT canonical_id, COUNT(*) AS cluster_size
  FROM canon GROUP BY canonical_id) s USING (canonical_id)
"""
)


def neardup_keep(spark: SparkSession, sf: str) -> DataFrame:
    """The dedup DECISION on top of cluster resolution: keep exactly the
    canonical (min-id) member of each near-dup cluster plus every
    untouched doc — `operators/dedup.dedup_keep` over the same pair
    graph as neardup_clusters. This is the row-level 'drop the
    duplicates' output a training pipeline consumes."""
    from .operators.dedup import dedup_keep

    d = _t(spark, sf, "documents")
    pairs = _clusters_pair_graph(spark, sf).select(
        F.col("doc_a").alias("id_a"), F.col("doc_b").alias("id_b")
    )
    return dedup_keep(d, "doc_id", pairs).select("doc_id", "n_chars")


NEARDUP_KEEP_SQL = (
    _CANON_CTE
    + """
SELECT doc_id, n_chars FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM canon WHERE doc_id <> canonical_id)
"""
)


def phash_neardup_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """The IMAGE-tier near-dup detector (operators/dedup.
    dedup_phash_hamming: 64-bit pigeonhole banding + bit_count verify)
    under an oracle: the documents table has no phash column, so the
    query derives a deterministic 60-bit stand-in (md5 prefix — the
    same value DuckDB computes) and plants a 3-bit-flip twin for each
    doc_id < 40 (hamming 3, inside the radius); the detector must
    recover exactly the planted pairs with their distances and no false
    positives. Identical banding math on both sides (7 bands x 9 bits
    over the 64-bit space), including the bucket-size cap (500) the
    library operator applies before its self-join — mirrored in the
    oracle's HAVING over the bands CTE."""
    from .operators.dedup import dedup_phash_hamming

    d = _spread(_t(spark, sf, "documents"))
    base = d.select(
        "doc_id",
        F.conv(F.substring(F.md5("text"), 1, 15), 16, 10)
        .cast("long")
        .alias("phash"),
    )
    planted = base.where(F.col("doc_id") < 40).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.col("phash").bitwiseXOR(F.lit(41)).alias("phash"),  # 3 bits flip
    )
    allp = base.unionByName(planted)
    return dedup_phash_hamming(allp, "doc_id", "phash", max_hamming=6, max_bucket=500)


PHASH_PAIRS_SQL = """
WITH base AS (
  SELECT doc_id, ('0x' || substr(md5(text), 1, 15))::BIGINT AS phash
  FROM documents),
planted AS (
  SELECT doc_id + 100000 AS doc_id, xor(phash, 41::BIGINT) AS phash
  FROM base WHERE doc_id < 40),
allp AS (SELECT * FROM base UNION ALL SELECT * FROM planted),
bands AS (
  SELECT doc_id, phash, b.b AS band, (phash >> (b.b * 9)) & 511 AS bkey
  FROM allp, (SELECT UNNEST(range(7)) AS b) b),
okb AS (SELECT band, bkey FROM bands GROUP BY band, bkey HAVING COUNT(*) <= 500),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
    a.phash AS pa, b.phash AS pb
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
  JOIN okb ON a.band = okb.band AND a.bkey = okb.bkey)
SELECT id_a, id_b, bit_count(xor(pa, pb)) AS hamming
FROM cand WHERE bit_count(xor(pa, pb)) <= 6
"""


def embedding_cosine_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Brute-force cosine top-3 per query vector (ANN baseline): JVM-side
    dot products, no Python in the hot path.

    r7 note (measured, kept as-is): a dim-unrolled static-expression
    rewrite of dot/norm was tried and REVERTED — the 64-term get/add
    chains measured ~2.3x SLOWER at sf1.0 (count 1.2 -> 2.8 s) than
    these zip_with/aggregate forms. Guide §1.1 empirical loop wins.
    ``_spread`` parallelizes the per-row dot/norm lambdas of the
    single-file corpus scan."""
    emb = _spread(_t(spark, sf, "embeddings"))
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    base = emb.select(F.col("vec_id"), dbl.alias("v"))
    norm = base.withColumn(
        "nrm",
        F.sqrt(F.aggregate(F.col("v"), F.lit(0.0), lambda acc, x: acc + x * x)),
    )
    q = norm.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), F.col("nrm").alias("qn")
    )
    cand = norm.select(
        F.col("vec_id").alias("neighbor_id"), F.col("v").alias("cv"), F.col("nrm").alias("cn")
    )
    dot = F.aggregate(
        F.zip_with(F.col("qv"), F.col("cv"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    pairs = (
        F.broadcast(q)  # tiny query side: corpus never shuffles
        .crossJoin(cand)
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", dot / (F.col("qn") * F.col("cn")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("query_id", "neighbor_id", "rk", F.round("cosine", 4).alias("cosine"))
    )


COSINE_SQL = """
WITH base AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
nrm AS (
  SELECT vec_id, v, sqrt(list_aggregate(list_transform(v, x -> x * x), 'sum')) AS n
  FROM base),
pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
    list_aggregate(list_transform(range(1, 65), i -> q.v[i] * c.v[i]), 'sum') / (q.n * c.n) AS cosine
  FROM nrm q, nrm c
  WHERE q.vec_id < 5 AND q.vec_id <> c.vec_id)
SELECT query_id, neighbor_id, rk, ROUND(cosine, 4) AS cosine FROM (
  SELECT query_id, neighbor_id, cosine,
    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rk
  FROM pairs) WHERE rk <= 3
"""


def embedding_neardup_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (the dedup family's dense-
    vector member, next to minhash/simhash/jaccard). The corpus has no
    natural near-dups (max pairwise cosine 0.513), so the query plants
    them deterministically: each vec_id < 50 gets a perturbed copy
    (vec_id + 100000, every component +0.02) — the same transform in the
    DuckDB oracle — and the detector must recover exactly those 50 pairs
    at cosine >= 0.9 without false positives from the natural corpus.

    This is the exact all-pairs verify kernel (JVM zip_with/aggregate
    dot products, a.vec_id < b.vec_id join). At corpus scale the
    candidate set comes from the banded hyperplane-LSH buckets
    (operators/similarity.knn_lsh) or IVF cells (knn_ivf) instead of
    all-pairs — both implemented and recall-tested; the per-candidate
    exact verify is identical to this."""
    emb = _spread(_t(spark, sf, "embeddings"))
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    base = emb.select(F.col("vec_id"), dbl.alias("v"))
    planted = base.where(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(F.col("v"), lambda x: x + F.lit(0.02)).alias("v"),
    )
    allv = base.unionByName(planted)
    norm = allv.withColumn(
        "nrm",
        F.sqrt(F.aggregate(F.col("v"), F.lit(0.0), lambda acc, x: acc + x * x)),
    )
    a = norm.select(
        F.col("vec_id").alias("vec_a"), F.col("v").alias("va"), F.col("nrm").alias("na")
    )
    b = norm.select(
        F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb")
    )
    dot = F.aggregate(
        F.zip_with(F.col("va"), F.col("vb"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .withColumn("cosine", dot / (F.col("na") * F.col("nb")))
        .where(F.col("cosine") >= 0.9)
        .select("vec_a", "vec_b", F.round("cosine", 4).alias("cosine"))
    )


NEARDUP_SQL = """
WITH base AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
planted AS (
  SELECT vec_id + 100000 AS vec_id, list_transform(v, x -> x + 0.02) AS v
  FROM base WHERE vec_id < 50),
allv AS (SELECT * FROM base UNION ALL SELECT * FROM planted),
nrm AS (
  SELECT vec_id, v, sqrt(list_aggregate(list_transform(v, x -> x * x), 'sum')) AS n
  FROM allv)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
  ROUND(list_aggregate(list_transform(range(1, 65), i -> a.v[i] * b.v[i]), 'sum')
        / (a.n * b.n), 4) AS cosine
FROM nrm a, nrm b
WHERE a.vec_id < b.vec_id
  AND list_aggregate(list_transform(range(1, 65), i -> a.v[i] * b.v[i]), 'sum')
      / (a.n * b.n) >= 0.9
"""


def ann_ivf_topk(spark: SparkSession, sf: str) -> DataFrame:
    """IVF approximate nearest neighbors (the second ANN scale path next
    to knn_lsh): codebook = the 8 lowest-vec_id embeddings (deterministic
    k-means stand-in), corpus assigned map-side to its nearest cell,
    queries (vec_id 100..104) probe their 2 nearest cells, exact cosine
    top-3 inside probed cells only. See operators/similarity.knn_ivf for
    the 100 TB layout argument (corpus bucketed by cell, no exchange)."""
    from .operators.similarity import knn_ivf

    emb = _t(spark, sf, "embeddings")
    centroids = emb.where(F.col("vec_id") < 8)
    queries = emb.where((F.col("vec_id") >= 100) & (F.col("vec_id") <= 104))
    # corpus side spread: cell assignment + candidate scoring are per-row
    # lambda work that otherwise runs on the single-file scan's ONE task
    out = knn_ivf(_spread(emb), queries, centroids, k=3, n_probe=2)
    return out.select(
        "query_id", "neighbor_id", "rk", F.round("cosine", 4).alias("cosine")
    )


IVF_SQL = """
WITH base AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
nrm AS (
  SELECT vec_id, v, sqrt(list_aggregate(list_transform(v, x -> x * x), 'sum')) AS n
  FROM base),
cent AS (SELECT vec_id AS cell, v AS cv, n AS cn FROM nrm WHERE vec_id < 8),
assigned AS (
  SELECT vec_id, cell FROM (
    SELECT b.vec_id, c.cell,
      ROW_NUMBER() OVER (PARTITION BY b.vec_id ORDER BY
        list_aggregate(list_transform(range(1, 65), i -> b.v[i] * c.cv[i]), 'sum') / (b.n * c.cn) DESC,
        c.cell) AS rk
    FROM nrm b, cent c) WHERE rk = 1),
probes AS (
  SELECT query_id, cell FROM (
    SELECT q.vec_id AS query_id, c.cell,
      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
        list_aggregate(list_transform(range(1, 65), i -> q.v[i] * c.cv[i]), 'sum') / (q.n * c.cn) DESC,
        c.cell) AS rk
    FROM nrm q, cent c WHERE q.vec_id BETWEEN 100 AND 104) WHERE rk <= 2),
scored AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
    list_aggregate(list_transform(range(1, 65), i -> q.v[i] * c.v[i]), 'sum') / (q.n * c.n) AS cosine
  FROM probes p
  JOIN assigned a ON a.cell = p.cell AND a.vec_id <> p.query_id
  JOIN nrm q ON q.vec_id = p.query_id
  JOIN nrm c ON c.vec_id = a.vec_id)
SELECT query_id, neighbor_id, rk, ROUND(cosine, 4) AS cosine FROM (
  SELECT query_id, neighbor_id, cosine,
    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rk
  FROM scored) WHERE rk <= 3
"""


def frontier_point_lookup(spark: SparkSession, sf: str) -> DataFrame:
    """S10 DHT Get/Del as a keyed point lookup (reference
    src/node/chord_interface.go:17-37,68-91): probe a key set, drop keys
    covered by delete tombstones. events stands in as the keyed table.
    At 100 TB this is a partition-pruned point read (layout bucketed by
    key + min/max and bloom column indexes), never a scan — the probe
    and tombstone sides broadcast."""
    e = _t(spark, sf, "events")
    probes = spark.range(100, 140).select(F.col("id").alias("event_id"))
    tombs = probes.where(F.col("event_id") % 3 == 0)
    return (
        e.join(F.broadcast(probes), "event_id", "left_semi")
        .join(F.broadcast(tombs), "event_id", "left_anti")
        .select("event_id", "user_id", "event_type", F.round("value", 4).alias("value"))
    )


POINT_LOOKUP_SQL = """
SELECT event_id, user_id, event_type, ROUND(value, 4) AS value
FROM events
WHERE event_id BETWEEN 100 AND 139 AND event_id % 3 <> 0
"""


def lang_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Per-language corpus stats (cube/rollup-shaped crawl metrics)."""
    d = _t(spark, sf, "documents")
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.countDistinct("source").alias("n_sources"),
    )


LANG_SQL = """
SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars,
  COUNT(DISTINCT source) AS n_sources
FROM documents GROUP BY lang
"""


def events_hourly_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Tumbling-window (event-time) aggregate — the batch equivalent of
    the streaming windowed agg (SURVEY.md T8 upgrade)."""
    e = _t(spark, sf, "events")
    return (
        e.groupBy(
            F.unix_micros(F.date_trunc("hour", F.col("ts")).cast("timestamp")).alias("hour_us"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(F.col("value").cast(DEC)), 2).cast("double").alias("sum_value"),
        )
    )


HOURLY_SQL = """
SELECT epoch_us(date_trunc('hour', ts)) AS hour_us, event_type,
  COUNT(*) AS n,
  CAST(ROUND(SUM(CAST(value AS DECIMAL(28,6))), 2) AS DOUBLE) AS sum_value
FROM events GROUP BY 1, 2
"""


def sessionize(spark: SparkSession, sf: str) -> DataFrame:
    """Session counting via lag(): gap > 30 min starts a new session —
    per-key ordered state, the applyInPandasWithState batch analogue."""
    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts").cast("timestamp")) - F.unix_micros(F.lag("ts").over(w).cast("timestamp"))
    flagged = e.withColumn(
        "new_sess",
        F.when(F.lag("ts").over(w).isNull() | (gap > 30 * 60 * 1_000_000), 1).otherwise(0),
    )
    return flagged.groupBy("user_id").agg(
        F.sum("new_sess").alias("n_sessions"), F.count("*").alias("n_events")
    )


SESSIONIZE_SQL = """
WITH flagged AS (
  SELECT user_id,
    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
         OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000
    THEN 1 ELSE 0 END AS new_sess
  FROM events)
SELECT user_id, CAST(SUM(new_sess) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
FROM flagged GROUP BY user_id
"""

# ---------------------------------------------------------------------------
# Training-data curation (operators/curation.py): LAION-style filtering,
# aspect-ratio bucketing, webdataset shard planning. The documents table
# has no image dims, so both engines derive a deterministic (w, h)
# stand-in from md5(text) — the same 16-bit chunks on both sides (the
# phash_neardup_pairs pattern). Float-valued outputs leave as integer
# surrogates (floor(1e6 * x)): IEEE division/multiplication are
# correctly rounded and therefore bit-identical across engines, while
# decimal round() midpoint modes are not — floor sidesteps the one
# cross-engine hazard.
# ---------------------------------------------------------------------------


def _synth_dims(d: DataFrame) -> DataFrame:
    """Deterministic stand-in image dims (32..1024) from md5(text)."""
    w16 = F.conv(F.substring(F.md5("text"), 1, 4), 16, 10).cast("long")
    h16 = F.conv(F.substring(F.md5("text"), 5, 4), 16, 10).cast("long")
    return d.select(
        "doc_id",
        ((w16 % 993) + 32).alias("w"),
        ((h16 % 993) + 32).alias("h"),
        F.col("text").alias("caption"),
    )


_SYNTH_DIMS_SQL = """
  SELECT doc_id,
    (('0x' || substr(md5(text), 1, 4))::BIGINT % 993) + 32 AS w,
    (('0x' || substr(md5(text), 5, 4))::BIGINT % 993) + 32 AS h,
    text AS caption
  FROM documents
"""


def caption_curation_filter(spark: SparkSession, sf: str) -> DataFrame:
    """LAION-style image+caption curation (operators/curation.
    curate_image_captions): min-dim, aspect, caption-token and
    digit-spam gates, all JVM expressions — a map-only pass at 100 TB."""
    from .operators.curation import curate_image_captions

    base = _synth_dims(_spread(_t(spark, sf, "documents")))
    kept = curate_image_captions(
        base,
        min_dim=64,
        max_aspect=3.0,
        min_tokens=5,
        max_tokens=500,
        max_digit_ratio=0.2,
    )
    return kept.select(
        "doc_id",
        "w",
        "h",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.floor(F.col("aspect") * 1000000).alias("aspect_ppm"),
        F.floor(F.col("digit_ratio") * 1000000).alias("digit_ppm"),
    ).orderBy("doc_id")


CURATION_SQL = f"""
WITH dims AS ({_SYNTH_DIMS_SQL}),
stats AS (
  SELECT doc_id, w, h,
    CAST(greatest(w, h) AS DOUBLE) / least(w, h) AS aspect,
    len(list_filter(regexp_split_to_array(lower(caption), '[^a-z0-9]+'),
        t -> t <> '')) AS n_tokens,
    CAST(length(regexp_replace(caption, '[^0-9]', '', 'g')) AS DOUBLE)
      / greatest(length(regexp_replace(caption, '\\s', '', 'g')), 1)
      AS digit_ratio
  FROM dims)
SELECT doc_id, w, h, CAST(n_tokens AS BIGINT) AS n_tokens,
  CAST(FLOOR(aspect * 1000000) AS BIGINT) AS aspect_ppm,
  CAST(FLOOR(digit_ratio * 1000000) AS BIGINT) AS digit_ppm
FROM stats
WHERE w >= 64 AND h >= 64 AND aspect <= 3.0
  AND n_tokens BETWEEN 5 AND 500 AND digit_ratio <= 0.2
ORDER BY doc_id
"""


def aspect_bucket_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Resolution-bucket assignment (operators/curation.
    aspect_bucket_col, integer-exact argmin) + per-bucket rollup —
    the batching prep step of image-generation training."""
    from .operators.curation import aspect_bucket_col

    base = _synth_dims(_spread(_t(spark, sf, "documents")))
    return (
        base.withColumn(
            "bucket", aspect_bucket_col(F.col("w"), F.col("h"))
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_imgs"),
            F.sum("w").cast("long").alias("sum_w"),
            F.sum("h").cast("long").alias("sum_h"),
        )
        .orderBy("bucket")
    )


# buckets (1,1),(4,3),(3,4),(16,9),(9,16); LCM of heights = 144
ASPECT_BUCKET_SQL = f"""
WITH dims AS ({_SYNTH_DIMS_SQL}),
buckets(bw, bh, ord, label) AS (VALUES
  (1, 1, 0, '1x1'), (4, 3, 1, '4x3'), (3, 4, 2, '3x4'),
  (16, 9, 3, '16x9'), (9, 16, 4, '9x16')),
ranked AS (
  SELECT d.doc_id, d.w, d.h, b.label,
    row_number() OVER (
      PARTITION BY d.doc_id
      ORDER BY abs(d.w * b.bh - d.h * b.bw) * (144 // b.bh), b.ord
    ) AS rk
  FROM dims d CROSS JOIN buckets b)
SELECT label AS bucket, COUNT(*) AS n_imgs,
  CAST(SUM(w) AS BIGINT) AS sum_w, CAST(SUM(h) AS BIGINT) AS sum_h
FROM ranked WHERE rk = 1 GROUP BY label ORDER BY bucket
"""


def shard_plan_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Webdataset-style shard planning (operators/curation.plan_shards:
    distributed exclusive prefix sum, no global window) rolled up to
    the per-shard manifest. Partition-count-invariant by construction;
    the oracle is the single-window formulation of the same math."""
    from .operators.curation import plan_shards, shard_manifest

    d = _t(spark, sf, "documents").select("doc_id", "n_chars")
    planned = plan_shards(d, "doc_id", "n_chars", shard_budget=20000)
    return (
        shard_manifest(planned, "doc_id", "n_chars")
        .withColumnRenamed("n_rows", "n_docs")
        .orderBy("shard_id")
    )


def lang_mix_rebalance(spark: SparkSession, sf: str) -> DataFrame:
    """Data-mixing step (operators/curation.rebalance_by_stratum):
    deterministic hash-threshold downsample of the documents table
    toward a target language mix, rolled up per language. All-integer
    threshold math (argmin + floor-div in exact arithmetic) so both
    engines make bit-identical keep/drop decisions; md5 bucket method
    is the cross-engine oracle path (production default: xxhash64)."""
    from .operators.curation import rebalance_by_stratum

    d = _t(spark, sf, "documents").select("doc_id", "lang", "n_chars")
    kept = rebalance_by_stratum(
        d,
        "lang",
        "doc_id",
        {"de": 2, "en": 3, "es": 2, "fr": 2, "zh": 2},
        method="md5",
    )
    return (
        kept.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_chars").cast("long").alias("kept_chars"),
        )
        .orderBy("lang")
    )


# lcm(2,3) = 6; buckets = 2^20 = 1048576 (curation.HASH_BUCKET_BITS)
LANG_MIX_SQL = """
WITH w(lang, wt) AS (VALUES ('de', 2), ('en', 3), ('es', 2), ('fr', 2), ('zh', 2)),
cnt AS (SELECT lang, COUNT(*) AS c FROM documents GROUP BY lang),
j AS (SELECT w.lang, w.wt, cnt.c FROM w JOIN cnt USING (lang)),
m AS (SELECT lang AS mlang, wt AS mwt, c AS mc
      FROM j ORDER BY c * (6 // wt), lang LIMIT 1),
th AS (SELECT j.lang,
         LEAST(CAST(1048576 AS HUGEINT),
               (CAST(m.mc AS HUGEINT) * j.wt * 1048576)
                 // (CAST(m.mwt AS HUGEINT) * j.c)) AS t
       FROM j CROSS JOIN m),
kept AS (
  SELECT d.lang, d.n_chars
  FROM documents d JOIN th ON d.lang = th.lang
  WHERE ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 5))::BIGINT < th.t)
SELECT lang, COUNT(*) AS n_kept, CAST(SUM(n_chars) AS BIGINT) AS kept_chars
FROM kept GROUP BY lang ORDER BY lang
"""


def doc_split_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic train/val/test assignment (operators/curation.
    split_assign_col, 18:1:1 by exact integer hash-range bounds —
    stable under corpus growth, engine-portable under md5), rolled up
    per split."""
    from .operators.curation import split_assign_col

    d = _t(spark, sf, "documents")
    return (
        d.withColumn("split", split_assign_col(F.col("doc_id"), method="md5"))
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
            F.countDistinct("lang").alias("n_langs"),
        )
        .orderBy("split")
    )


def decontaminate_train_split(spark: SparkSession, sf: str) -> DataFrame:
    """Composition: split_assign_col carves documents into train/test,
    contamination_check (operators/curation.py) flags train docs
    sharing any word 3-gram with the test set — the decontamination
    hygiene pass of a pretraining pipeline. Benchmark grams broadcast;
    the corpus never shuffles by gram."""
    from .operators.curation import contamination_check, split_assign_col

    d = _spread(_t(spark, sf, "documents")).withColumn(
        "split", split_assign_col(F.col("doc_id"), method="md5")
    )
    flagged = contamination_check(
        d.where(F.col("split") == "train"),
        d.where(F.col("split") == "test"),
        "doc_id",
        "text",
        ngram_n=3,
    )
    return flagged.orderBy("doc_id")


DECONTAM_SQL = """
WITH b AS (
  SELECT doc_id, text,
    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 5))::BIGINT AS bucket
  FROM documents),
toks AS (
  SELECT doc_id, bucket,
    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM b),
grams AS (
  SELECT doc_id, bucket, UNNEST(list_distinct(
    CASE WHEN len(toks) < 3 THEN [] ELSE
      list_transform(generate_series(1, len(toks) - 2),
                     i -> array_to_string(toks[i:i+2], ' ')) END)) AS gram
  FROM toks),
bench AS (SELECT DISTINCT gram FROM grams WHERE bucket >= 996147),
corpus AS (SELECT doc_id, gram FROM grams WHERE bucket < 943718),
hits AS (SELECT doc_id, COUNT(*) AS n_hits
         FROM corpus JOIN bench USING (gram) GROUP BY doc_id),
sizes AS (SELECT doc_id, COUNT(*) AS n_grams FROM corpus GROUP BY doc_id)
SELECT h.doc_id, s.n_grams, h.n_hits,
  CAST(FLOOR(CAST(h.n_hits AS DOUBLE) / s.n_grams * 1000000) AS BIGINT)
    AS contam_ppm
FROM hits h JOIN sizes s USING (doc_id) ORDER BY h.doc_id
"""


# bounds: 18*2^20//20 = 943718, 19*2^20//20 = 996147 (exact ints)
DOC_SPLIT_SQL = """
WITH b AS (
  SELECT doc_id, lang, n_chars,
    ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 5))::BIGINT AS bucket
  FROM documents)
SELECT CASE WHEN bucket < 943718 THEN 'train'
            WHEN bucket < 996147 THEN 'val'
            ELSE 'test' END AS split,
  COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
  COUNT(DISTINCT lang) AS n_langs
FROM b GROUP BY 1 ORDER BY 1
"""


SHARD_PLAN_SQL = """
WITH pre AS (
  SELECT doc_id, n_chars,
    COALESCE(SUM(n_chars) OVER (
      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
    ), 0) AS byte_offset
  FROM documents)
SELECT CAST(FLOOR(byte_offset / 20000) AS BIGINT) AS shard_id,
  COUNT(*) AS n_docs,
  CAST(SUM(n_chars) AS BIGINT) AS shard_bytes,
  MIN(doc_id) AS first_id, MAX(doc_id) AS last_id
FROM pre GROUP BY 1 ORDER BY 1
"""


# ---------------------------------------------------------------------------
# Registry
# ---------------------------------------------------------------------------

# name -> (spark_fn, duckdb_sql or None for rows-only checks)
REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {
    "q1_pricing_summary": (q1_pricing_summary, Q1_SQL),
    "q3_shipping_priority": (q3_shipping_priority, Q3_SQL),
    "region_supplier_rollup": (region_supplier_rollup, REGION_SQL),
    "gather_merge": (gather_merge, GATHER_SQL),
    "storage_dedup_antijoin": (storage_dedup_antijoin, ANTIJOIN_SQL),
    "frontier_fifo_batch": (frontier_fifo_batch, FIFO_SQL),
    "url_type_dispatch": (url_type_dispatch, DISPATCH_SQL),
    "lease_reclaim_filter": (lease_reclaim_filter, RECLAIM_SQL),
    "topk_links_per_page": (topk_links_per_page, TOPK_SQL),
    "politeness_budget_rank": (politeness_budget_rank, BUDGET_SQL),
    "host_priority_schedule": (host_priority_schedule, SCHEDULE_SQL),
    "robots_disallow_filter": (robots_disallow_filter, ROBOTS_SQL),
    "crawl_delay_schedule": (crawl_delay_schedule, CRAWL_DELAY_SQL),
    "dedup_exact": (dedup_exact, DEDUP_EXACT_SQL),
    "doc_fingerprint": (doc_fingerprint, FINGERPRINT_SQL),
    "token_count": (token_count, TOKEN_COUNT_SQL),
    "token_stats": (token_stats, TOKEN_STATS_SQL),
    "quality_score": (quality_score, QUALITY_SQL),
    "minhash_signatures": (minhash_signatures, MINHASH_SQL),
    "minhash_lsh_pairs": (minhash_lsh_pairs, MINHASH_PAIRS_SQL),
    "simhash16": (simhash16, SIMHASH_SQL),
    "ngram_jaccard_pairs": (ngram_jaccard_pairs, JACCARD_SQL),
    "neardup_clusters": (neardup_clusters, NEARDUP_CLUSTERS_SQL),
    "neardup_keep": (neardup_keep, NEARDUP_KEEP_SQL),
    "phash_neardup_pairs": (phash_neardup_pairs, PHASH_PAIRS_SQL),
    "embedding_cosine_topk": (embedding_cosine_topk, COSINE_SQL),
    "embedding_neardup_pairs": (embedding_neardup_pairs, NEARDUP_SQL),
    "ann_ivf_topk": (ann_ivf_topk, IVF_SQL),
    "frontier_point_lookup": (frontier_point_lookup, POINT_LOOKUP_SQL),
    "lang_stats": (lang_stats, LANG_SQL),
    "events_hourly_rollup": (events_hourly_rollup, HOURLY_SQL),
    "sessionize": (sessionize, SESSIONIZE_SQL),
    "caption_curation_filter": (caption_curation_filter, CURATION_SQL),
    "aspect_bucket_rollup": (aspect_bucket_rollup, ASPECT_BUCKET_SQL),
    "shard_plan_rollup": (shard_plan_rollup, SHARD_PLAN_SQL),
    "lang_mix_rebalance": (lang_mix_rebalance, LANG_MIX_SQL),
    "doc_split_rollup": (doc_split_rollup, DOC_SPLIT_SQL),
    "decontaminate_train_split": (decontaminate_train_split, DECONTAM_SQL),
}
