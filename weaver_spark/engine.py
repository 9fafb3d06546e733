"""The crawl round engine: frontier -> schedule -> fetch -> commit.

Each crawl round is one declarative DataFrame job (SURVEY.md §3.1
"Spark rebuild lifecycle"):

    state    = latest frontier rows (merge-on-read over the delta log)
    pending  = state where status='pending'   [+ reclaimed expired leases]
    batch    = politeness/priority schedule over pending (scale mode)
               or the whole FIFO wave (reproduction mode)
    results  = batch |> join(page source) |> mapInPandas(fetch+parse+decode)
    links    -> canonicalize -> assign dense enqueue_seq -> frontier append
    payloads -> first-wins per key -> anti-join seen keys -> images append
    metrics  -> per (round, partition, host) aggregate   -> metrics append
    done     -> status updates for the batch              -> frontier append
    lineage  -> (round, table, commit) rows               -> lineage append

Commit ordering gives crash idempotence: images (anti-join makes re-runs
no-ops) land before the frontier's atomic links+done commit; lineage last.
``rollback_to_round`` restores every table to its end-of-round commit and
re-running produces byte-identical state (tested in tests/test_resume.py).

Reproduction mode matches the reference semantics (SURVEY.md §0.1) and is
asserted equal to the pure-Python simulator (sim.py) on crawl order,
enqueue log, seen set and stored rows. Scale mode turns on the north-rule
upgrades: per-host politeness budgets via skew-safe salted window rank and
priority ordering. The seen anti-join's prefilter (``seen_filter``: exact
by default, bloom or cuckoo) is independent of the mode.

Scale notes (10^10 frontier, 1000 executors):
- No stage in the loop collects data: the only driver-side values are
  per-bucket link counts (dense_seq offsets, from the stats rollup), a
  handful of scalars (pending count, max seq, observed by the jobs the
  round runs anyway) and prefilter shard blobs.
- The frontier is never rewritten: status changes are O(batch) delta
  appends; `DeltaTable.compact` folds the log between crawls.
- The fetch stage repartitions by (host, salt) so one mega-host cannot
  pin a single task; Arrow batch size bounds decode memory.
- The global FIFO constraint lives in `enqueue_seq` *values*, not in a
  physical sort: scheduling uses per-host windows, and a total sort only
  happens in test/report helpers.
"""

from __future__ import annotations

import os
import shutil
import time
from datetime import datetime, timezone

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from .catalog import Catalog, TableBackend
from .functions.urls import canonicalize_series, resolve_series
from .operators.cuckoo import CuckooSeenSet, spark_key_hasher
from .operators.fetch import make_synthetic_fetch_fn
from .operators.ranking import (
    budget_rank,
    dense_seq_numeric,
    seq_bucket,
    topk_per_group,
)
from .operators.robots import DELAY_CAP_COL, DELAY_MS_COL, apply_robots
from .operators.seen import (
    BloomSeenSet,
    antijoin_bloom,
    antijoin_exact,
    antijoin_prefiltered,
)
from .schemas import (
    FETCH_RESULT_SCHEMA,
    FRONTIER_SCHEMA,
    IMAGES_SCHEMA,
    LINEAGE_SCHEMA,
    METRICS_SCHEMA,
    PURGES_SCHEMA,
    ROBOTS_SCHEMA,
    SINK_PAYLOAD,
    STAGE_SCHEMA,
    STATUS_BLOCKED,
    STATUS_DONE,
    STATUS_FAILED,
    STATUS_LEASED,
    STATUS_PENDING,
    URL_TYPE_ROOT,
    WEB_PAGES_SCHEMA,
)
from .session import local_df
from .webgen import SyntheticWeb


@F.pandas_udf(StringType())
def _resolve_canonicalize_udf(parents: pd.Series, raws: pd.Series) -> pd.Series:
    return resolve_series(parents, raws)


DEPTH_PRIORITY_CEIL = 4  # depth mode: priority = max(0, CEIL - depth)


def _priority_expr(kind_col, depth_col=None, mode: str = "kind"):
    """Scheduler priority source. Mirrored exactly in sim.prio — one
    derivation rule, two engines, parity-tested.

    - ``kind`` (reference semantics): root pages (link yield — they grow
      the frontier) rank above leaves/dummies. Binary.
    - ``depth``: depth-decay ``max(0, 4 - depth)`` — shallow pages (close
      to the seed list, the highest-value frontier in a BFS-biased crawl)
      outrank deep ones, giving >= 3 live priority levels that the
      (priority DESC, enqueue_seq) budget window actually exercises.
    """
    if mode == "depth":
        return F.greatest(
            F.lit(0), F.lit(DEPTH_PRIORITY_CEIL) - depth_col
        ).cast("int")
    return F.when(kind_col == URL_TYPE_ROOT, F.lit(1)).otherwise(F.lit(0))


FETCH_ROWS_PER_TASK = 256


def _fetch_partitions(n_rows: int, shuffle_partitions: int) -> int:
    """Fetch-stage task count for a batch of at most ``n_rows`` rows (the
    engine passes the round's pending count, a driver-side upper bound:
    robots and the host budget only shrink the batch): one task per
    ``FETCH_ROWS_PER_TASK`` rows, at least one wave
    (``shuffle_partitions``) and at most four. Four waves of short tasks
    let the scheduler re-balance a big batch around stragglers (a skewed
    bucket, a stolen CPU slice), where one task per core would idle that
    core to the end. A small batch gets one wave: every Python-worker task
    pays a fixed start-up (about 0.27 s in pyspark 4.1, dominated by
    re-reading the pyspark zip), which four waves of ~20-URL tasks pay
    for nothing."""
    p = shuffle_partitions
    return min(4 * p, max(p, -(-n_rows // FETCH_ROWS_PER_TASK)))


def _seq_range(observed: dict) -> tuple[int, int] | None:
    """(lo, hi) of an observed min/max enqueue_seq row, or None for an
    empty batch (both null): no rows, so nothing to sequence."""
    if observed["lo"] is None:
        return None
    return observed["lo"], observed["hi"]


def _head_aggs() -> list:
    """The frontier head scalars over the current state: pending count
    and max enqueue_seq. One definition for the head aggregate and for
    the observation a compaction's rewrite carries."""
    return [
        F.sum(F.when(F.col("status") == STATUS_PENDING, 1).otherwise(0)).alias(
            "n_pending"
        ),
        F.max("enqueue_seq").alias("max_seq"),
    ]


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        warehouse: str,
        mode: str = "reproduction",
        k_cap: int | None = None,
        host_budget: int | None = None,
        salt_buckets: int = 16,
        seen_filter: str | None = None,
        track_leases: bool = False,
        lease_timeout_s: int = 30,
        seed: int = 42,
        keep_stage: bool = False,
        round_time_budget_ms: int = 1000,
        compact_every: int | None = None,
        compact_buckets: int | None = None,
        priority_mode: str = "kind",
        retry_failed: int = 0,
        retry_min_status: int = 500,
        max_depth: int | None = None,
    ):
        assert mode in ("reproduction", "scale")
        assert priority_mode in ("kind", "depth")
        # retry_failed=N: opt-in bounded re-enqueue of transient fetch
        # failures (status_code >= retry_min_status; default 5xx,
        # including the fetcher's 599 connect-failed sentinel but NEVER
        # 597/598 — a wrong Content-Type or an oversize body is a
        # deterministic local rejection that returns the same answer on
        # every attempt, and re-streaming up to max_body_bytes per retry
        # is pure bandwidth burn at crawl scale, fetch.py:130-135).
        # Default 0 keeps the reference's at-most-once ack:
        # `failed` is terminal (src/scrapper/queueService.go:91-94 acks
        # on pop; a failed visit is never re-queued). A retry is a NEW
        # enqueue event — fresh seq, attempt+1 — so history keeps every
        # attempt and FIFO/parity semantics are unchanged per attempt.
        assert retry_failed >= 0
        self.retry_failed = retry_failed
        self.retry_min_status = retry_min_status
        # max_depth=D: links that would enqueue at depth > D are dropped
        # at the stage-read boundary (one links-column mask, before the
        # stats agg — so link counts, the links pass and the carry all
        # see the same capped set; no extra job). The open web is
        # effectively infinite: an uncapped frontier is a real deploy
        # hazard the closed reference never faced. None = unbounded.
        assert max_depth is None or max_depth >= 0
        self.max_depth = max_depth
        self.priority_mode = priority_mode
        self.spark = spark
        self.mode = mode
        self.k_cap = k_cap
        self.host_budget = host_budget
        self.salt_buckets = salt_buckets
        # seen_filter: exact | bloom | cuckoo (the north rule's bloom ->
        # partitioned-cuckoo upgrade path; cuckoo supports deletion —
        # operators/cuckoo.py)
        if seen_filter is None:
            seen_filter = "exact"
        assert seen_filter in ("exact", "bloom", "cuckoo")
        self.seen_filter = seen_filter
        # the persistent cross-round prefilter of the bloom/cuckoo tiers:
        # built once, maintained by per-round distributed inserts of
        # newly-stored keys (never an O(seen)-per-round rebuild), and
        # checkpointed to the warehouse so restarts resume from a
        # watermark (_prepare_filter / _stamp_filter)
        self._filter = None
        self._filter_dir = os.path.join(warehouse, "_filters", seen_filter)
        self.track_leases = track_leases
        self.lease_timeout_s = lease_timeout_s
        self.seed = seed
        cat = Catalog(warehouse)
        self.frontier: TableBackend = cat.table("frontier", FRONTIER_SCHEMA, key="enqueue_seq")
        self.images: TableBackend = cat.table("images", IMAGES_SCHEMA)
        self.metrics: TableBackend = cat.table("metrics", METRICS_SCHEMA)
        self.lineage: TableBackend = cat.table("lineage", LINEAGE_SCHEMA)
        # live robots cache (enable_auto_robots): fetched rows persist
        # here so a restarted crawl never re-fetches a host's robots.txt
        self.robots_table: TableBackend = cat.table("robots", ROBOTS_SCHEMA)
        # keyed purges over the append-only images log (purge_images)
        self.purges: TableBackend = cat.table("purges", PURGES_SCHEMA)
        self.web_pages: DataFrame | None = None
        self.robots_df: DataFrame | None = None
        self._auto_robots: dict | None = None  # enable_auto_robots kwargs
        # conditional-recrawl state (recrawl()): validator rows joined
        # onto the fetch input, and the stale keys detected so far
        self._recrawl_conds: DataFrame | None = None
        self._recrawl_stale: list[str] = []
        self.round_time_budget_ms = round_time_budget_ms
        self._fetch_fn = make_synthetic_fetch_fn(k_cap, seed)
        self._next_round: int | None = None  # cached current_round()
        # (frontier_commit_id, n_pending, max_seq, exact_round) carried
        # across rounds: valid only while the frontier's last commit is
        # the one this engine wrote — any external append/compact/
        # rollback falls back to the exact aggregate. exact_round is the
        # round at whose start the scalars were last known exactly (the
        # head aggregate, or a compaction's observed row). Purpose: the
        # round's head aggregate is a driver-side scalar job over the
        # whole frontier state; its ~1-5 s is a fixed serial term per
        # round that the N-vs-4N scaling ratio pays at BOTH cluster
        # sizes (BENCH/BASELINE.md).
        self._carry: tuple[int, int, int, int] | None = None
        self.keep_stage = keep_stage
        # WEAVER_TIMING=1 stage marks accumulate here; bench.py commits
        # them as BENCH/stage_marks.txt so per-stage wall-time claims
        # (">90% fetch") stay auditable round-over-round
        self.timing_log: list[tuple[int, list[tuple[str, float]]]] = []
        self.compact_every = compact_every
        # bucketed base layout: compaction writes the base as pmod(
        # xxhash64(key), B) bucket dirs and re-compactions rewrite ONLY
        # delta-touched buckets (catalog.compact) — steady-state
        # compaction cost is O(write set), not O(frontier)
        self.compact_buckets = compact_buckets
        self.stage_root = os.path.join(warehouse, "_stage")

    # -- sources ---------------------------------------------------------

    def set_web(self, web: SyntheticWeb) -> None:
        """Register the synthetic closed web as the page source. The fetch
        UDF is rebuilt with the WEB's seed so payload bytes/phash always
        match the simulator oracle run on the same web."""
        if web.seed != self.seed:
            self.seed = web.seed
            self._fetch_fn = make_synthetic_fetch_fn(self.k_cap, web.seed)
        self.set_web_df(local_df(self.spark, web.page_rows(), WEB_PAGES_SCHEMA))

    def set_web_df(self, df: DataFrame) -> None:
        self.web_pages = df.persist()
        self.web_pages.count()

    def set_http_fetcher(self, **kwargs) -> None:
        """Production mode: fetch over real HTTP (bounded thread pool per
        Arrow batch, reference retry/backoff semantics — operators/
        fetch.make_http_fetch_fn). The engine then runs WITHOUT a page
        source table: discovered hrefs resolve against their parent URL,
        and the payload dedup key is the URL itself (the http fetcher's
        image_id). This is the `spark-submit` deployment shape
        (scripts/crawl_job.py); the synthetic path stays the test/bench
        oracle."""
        from .operators.fetch import make_http_fetch_fn

        self._fetch_fn = make_http_fetch_fn(self.k_cap, **kwargs)
        self.web_pages = None

    def set_url_classifier(self, rules: list[tuple[str, str]]) -> None:
        """Production half of the U1 site-handler registry: ordered
        (regex, url_type) rules that type DISCOVERED links in HTTP mode
        (reference: root handlers enqueue product-TYPED links,
        ``src/scrapper/queueService.go:30-68``,
        ``amazonRootHandler.go:56-71`` — the type decides which handler,
        and hence whether links are extracted, on the next hop). Without
        rules every discovered link is a leaf and a real crawl can never
        descend past its seeds; with e.g. ``[(r"/cat(/|$)", "root")]``
        category pages discovered at any depth keep compounding the
        frontier. First matching rule wins; no match falls through to
        leaf. Compiled into a JVM-side CASE/rlike expression — the
        classifier adds zero Python to the links pass."""
        for _pat, t in rules:
            assert t in (URL_TYPE_ROOT, "leaf", "dummy"), f"bad url_type {t!r}"
        self._url_rules = list(rules)

    def _classify_expr(self, url_col):
        """CASE WHEN url rlike p1 THEN t1 ... ELSE NULL (downstream
        coalesce defaults to leaf — the reference's behavior)."""
        rules = getattr(self, "_url_rules", None)
        if not rules:
            return F.lit(None).cast("string")
        out = None
        for pat, t in rules:
            cond = url_col.rlike(pat)
            out = F.when(cond, F.lit(t)) if out is None else out.when(cond, F.lit(t))
        return out.otherwise(F.lit(None).cast("string"))

    def set_robots(self, rows_or_df) -> None:
        """Install the per-host robots cache (enforced in scale mode as a
        broadcast join at schedule time; see operators/robots.py).
        Short rows / DataFrames from pre-upgrade callers (3 cols before
        Allow, 4 before sitemaps) are normalized to ROBOTS_SCHEMA with
        nulls in the missing trailing columns."""
        if isinstance(rows_or_df, DataFrame):
            for c in ("allow_prefixes", "sitemaps"):
                if c not in rows_or_df.columns:
                    rows_or_df = rows_or_df.withColumn(
                        c, F.lit(None).cast("array<string>")
                    )
            self.robots_df = rows_or_df
        else:
            rows = [
                tuple(r) + (None,) * (len(ROBOTS_SCHEMA) - len(r))
                for r in rows_or_df
            ]
            self.robots_df = local_df(self.spark, rows, ROBOTS_SCHEMA)

    def enable_auto_robots(self, **fetch_kwargs) -> None:
        """Live robots.txt caching (scale mode): at the start of each
        round, hosts in the pending set that are not yet in the cache get
        their /robots.txt fetched + parsed (operators/robots.
        fetch_robots_rows) and committed to the durable ``robots`` table —
        each host is fetched exactly once ACROSS ENGINE RESTARTS (the
        cache the north rule names; a restarted crawl reloads the table
        instead of re-fetching every host). Rules previously installed via
        ``set_robots()`` are kept as a manual overlay that wins per host —
        an unreachable robots.txt (= 'no restrictions') can never erase a
        manually configured disallow. Pairs with set_http_fetcher; kwargs
        (opener, timeout_s, scheme, max_concurrency) pass through to the
        fetcher. ``distributed=True`` routes the cache fill through
        ``fetch_robots_df`` (a mapInPandas job — zero per-host driver
        traffic; the 10^7-host shape) instead of the driver thread
        pool."""
        self._auto_robots = fetch_kwargs
        self._manual_robots_df = self.robots_df
        self.robots_df = self._effective_robots_df()

    def refresh_robots_df(self, sites_df: DataFrame) -> int:
        """Distributed cache fill: fetch+parse robots.txt for the given
        (host, site) rows as one Spark job, commit the parsed rows to the
        durable robots table. Callers pass only NOT-yet-cached hosts.

        Only the KNOWN-inapplicable enable_auto_robots kwargs are
        dropped here ('distributed' is this method's own switch;
        'scheme' only applies to the driver-side variant — bare-host
        sites need an authority, but the site column already carries
        scheme://host:port extracted from the pending URLs). Anything
        else passes through verbatim so a caller typo still fails fast
        with a TypeError instead of silently fetching with defaults."""
        from .operators.robots import fetch_robots_df

        kw = {
            k: v
            for k, v in self._auto_robots.items()
            if k not in ("distributed", "scheme")
        }
        rows = fetch_robots_df(sites_df, **kw).persist()
        n = rows.count()
        if n:
            self.robots_table.append(rows, meta={"op": "robots_fetch"})
            self.robots_df = self._effective_robots_df()
        rows.unpersist()
        return n

    def _effective_robots_df(self) -> DataFrame | None:
        """Manual set_robots() rows overlaid on the durable cache table
        (manual wins per host)."""
        cached = (
            self.robots_table.read(self.spark)
            if self.robots_table.last_commit()
            else None
        )
        manual = getattr(self, "_manual_robots_df", None)
        if cached is not None:
            # one row per host even if concurrent engines raced an append
            cached = cached.dropDuplicates(["host"])
        if manual is None:
            return cached
        if cached is None:
            return manual
        return manual.unionByName(
            cached.join(manual.select("host"), "host", "left_anti")
        )

    def refresh_robots(self, sites: list[tuple[str, str]]) -> int:
        """Fetch robots.txt for (host, base_url) pairs; commit the parsed
        rows to the durable robots table and refresh the enforcement
        DataFrame. Callers pass only hosts NOT already cached (run_round
        anti-joins pending hosts against the cache — per-round driver
        traffic is O(new hosts), zero in steady state). The bare host is
        the politeness/join key, the base_url carries the authority
        (scheme + host:port) to fetch."""
        from .operators.robots import fetch_robots_rows

        new = sorted(set(sites))
        if new and self.robots_df is not None:
            # in-method idempotence (the run_round anti-join only covers
            # the single-engine in-process path): a duplicated host row
            # would double every pending row for that host through the
            # enforcement join, durably. One tiny job over the CANDIDATE
            # hosts only — not the cache.
            cand = local_df(self.spark, [(h,) for h, _ in new], "host string")
            cached_hosts = {
                r["host"]
                for r in cand.join(
                    F.broadcast(self.robots_df.select("host")), "host", "left_semi"
                ).collect()
            }
            new = [s for s in new if s[0] not in cached_hosts]
        if not new:
            return 0
        kw = {k: v for k, v in self._auto_robots.items() if k != "distributed"}
        rows = fetch_robots_rows(new, **kw)
        # tiny metadata commit, driver-side (catalog.append_rows): host-
        # cardinality rows, no Spark job on the round's serial path
        self.robots_table.append_rows(rows, meta={"op": "robots_fetch"})
        self.robots_df = self._effective_robots_df()
        return len(new)

    # -- seeding -----------------------------------------------------------

    def seed_urls(self, urls: list[str], url_types: list[str] | None = None) -> int:
        """`scrap` (reference src/client/main.go:90-110): canonicalize and
        append seeds in list order. Sequence numbers continue from the
        frontier's current max (0..S-1 on an empty table) so re-seeding a
        live frontier can never mint colliding enqueue_seq keys.
        ``url_types`` overrides per-seed page class (the reference client
        types its seeds explicitly, src/client/main.go:96-107) — required
        in HTTP mode, where there is no page table to look kinds up in."""
        if url_types is not None and len(url_types) != len(urls):
            raise ValueError(
                f"url_types length {len(url_types)} != urls length {len(urls)}"
            )
        canon = list(canonicalize_series(pd.Series(urls)))
        ucid = self.frontier.last_commit() + 1
        start = 0
        if ucid > 1:  # non-empty frontier: one scalar job for max seq
            m = (
                self.frontier.read(self.spark)
                .agg(F.max("enqueue_seq").alias("m"))
                .collect()[0]["m"]
            )
            start = (m if m is not None else -1) + 1
        rows = [
            (u, start + i, url_types[i] if url_types else None)
            for i, u in enumerate(canon)
        ]
        df = local_df(
            self.spark, rows, "url string, enqueue_seq long, seed_type string"
        )
        kinds = self.web_pages.select("url", "kind") if self.web_pages is not None else None
        if kinds is not None:
            df = df.join(F.broadcast(kinds), "url", "left")
        else:
            df = df.withColumn("kind", F.lit(None).cast("string"))
        eff_kind = F.coalesce(F.col("seed_type"), F.col("kind"), F.lit("leaf"))
        seeded = df.select(
            "url",
            F.xxhash64("url").alias("url_hash"),
            F.parse_url("url", F.lit("HOST")).alias("host"),
            eff_kind.alias("url_type"),
            F.lit(0).alias("depth"),  # seeds are the crawl's depth origin
            _priority_expr(eff_kind, F.lit(0), self.priority_mode).alias(
                "priority"
            ),
            F.lit(STATUS_PENDING).alias("status"),
            "enqueue_seq",
            F.lit(None).cast("timestamp").alias("lease_ts"),
            F.lit(0).alias("round"),
            F.lit(0).alias("attempt"),
            F.lit(ucid).cast("long").alias("update_seq"),
        )
        return self.frontier.append(seeded, meta={"op": "seed", "n": len(urls)})

    # -- conditional recrawl (freshness; upgrade beyond the reference's
    # build-once frontier) ------------------------------------------------

    def _images_validators_schema(self):
        from pyspark.sql.types import LongType, StringType, StructField, StructType

        return StructType(
            [
                IMAGES_SCHEMA["image_id"],
                StructField("enqueue_seq", LongType(), True),
                StructField("etag", StringType(), True),
                StructField("last_modified", StringType(), True),
            ]
        )

    def recrawl(self, urls: list[str] | None = None) -> int:
        """Re-enqueue stored payload URLs as CONDITIONAL fetches: each
        carries the ETag / Last-Modified validators captured when its
        payload was stored (read schema-on-read from the adopted stage
        files; pre-upgrade rows read null validators and fetch
        unconditionally). A 304 answer keeps the stored payload and
        counts in the round's ``revalidated`` stat; a 200 answer marks
        the key stale (``stale`` stat + ``refresh_stale()``); the
        re-fetch never duplicates a payload row — recrawl rows are
        seen-set members, so the store path skips them by construction.

        ``urls=None`` recrawls every alive stored key. The URL list is
        driver-side like ``seed_urls`` (the reference client seeds
        explicitly); a full-corpus refresh at 10^10 scale iterates this
        in key-range batches — each call is one list, one frontier
        commit. HTTP mode only."""
        if self.web_pages is not None:
            raise ValueError("recrawl() is an HTTP-mode operation")
        spark = self.spark
        if not self.images.last_commit():
            return 0
        vals = self._alive_after_purge(
            self.images.read(spark, schema=self._images_validators_schema())
        )
        # one validator per key: the latest stored generation's headers
        latest = vals.groupBy("image_id").agg(
            F.expr("max_by(etag, enqueue_seq)").alias("_etag"),
            F.expr("max_by(last_modified, enqueue_seq)").alias("_last_modified"),
        )
        sel = latest.select(F.col("image_id").alias("url"), "_etag", "_last_modified")
        if urls is not None:
            canon = list(canonicalize_series(pd.Series(urls)))
            want = local_df(spark, [(u,) for u in canon], "url string")
            sel = sel.join(F.broadcast(want), "url", "left_semi")
        conds = sel.persist()
        targets = [r["url"] for r in conds.select("url").collect()]
        if not targets:
            conds.unpersist()
            return 0
        if self._recrawl_conds is not None:
            self._recrawl_conds.unpersist()
        self._recrawl_conds = conds
        self._recrawl_stale = []  # each recrawl session detects afresh
        self.seed_urls(targets, url_types=["leaf"] * len(targets))
        return len(targets)

    def ingest_sitemaps(
        self,
        hosts: list[str] | None = None,
        distributed: bool = False,
        **fetch_kwargs,
    ) -> int:
        """Seed the frontier from robots-advertised sitemaps: every
        ``Sitemap:`` URL in the robots cache (optionally restricted to
        ``hosts``) is fetched and its tree expanded
        (operators/sitemaps.py — sitemap-index recursion, gzip-aware,
        bounded on every axis), and the page URLs enqueue as typed
        seeds through the normal frontier path (the URL classifier
        types them; unmatched URLs are leaves).

        Idempotent: candidates are anti-joined against the frontier's
        known URLs before seeding, so re-running after a partial crawl
        only adds genuinely new pages. ``distributed=True`` expands
        trees executor-side (``fetch_sitemap_urls_df``) for host
        cardinalities beyond the driver; the seed list itself is
        driver-side either way (same contract as ``seed_urls``)."""
        from .operators.sitemaps import fetch_sitemap_urls, fetch_sitemap_urls_df

        if self.robots_df is None or "sitemaps" not in self.robots_df.columns:
            return 0
        sm = self.robots_df.where(
            F.col("sitemaps").isNotNull() & (F.size("sitemaps") > 0)
        ).select("host", F.explode("sitemaps").alias("sitemap"))
        if hosts is not None:
            want = local_df(self.spark, [(h,) for h in hosts], "host string")
            sm = sm.join(F.broadcast(want), "host", "left_semi")
        if distributed:
            pages = [
                r["url"]
                for r in fetch_sitemap_urls_df(sm, **fetch_kwargs).collect()
            ]
        else:
            roots = [r["sitemap"] for r in sm.collect()]
            if not roots:
                return 0
            pages = fetch_sitemap_urls(roots, **fetch_kwargs)
        if not pages:
            return 0
        canon = list(dict.fromkeys(canonicalize_series(pd.Series(pages))))
        cand = local_df(self.spark, list(enumerate(canon)), "idx long, url string")
        if self.frontier.last_commit():
            cand = cand.join(
                self.frontier.read(self.spark).select("url"), "url", "left_anti"
            )
        typed = cand.withColumn(
            "kind", F.coalesce(self._classify_expr(F.col("url")), F.lit("leaf"))
        )
        # sitemap document order is the seed order (deterministic
        # enqueue_seq assignment — FIFO parity like any other seed list)
        rows = typed.orderBy("idx").collect()
        if not rows:
            return 0
        self.seed_urls(
            [r["url"] for r in rows], url_types=[r["kind"] for r in rows]
        )
        return len(rows)

    def refresh_stale(self) -> int:
        """The refresh half of recrawl, composed from existing
        primitives: purge the stale generation (tombstone — the liveness
        rule hides it everywhere at once) and re-enqueue the keys as
        plain fetches; the re-store rides a fresh enqueue_seq past the
        purge watermark, so gather serves exactly one (new) generation
        per key — no duplicate payload rows at any point."""
        stale = list(self._recrawl_stale)
        if not stale:
            return 0
        self.purge_images(stale)
        # purged keys fetch unconditionally (their validators died with
        # the purged generation)
        if self._recrawl_conds is not None:
            dead = local_df(self.spark, [(u,) for u in stale], "url string")
            self._recrawl_conds = self._recrawl_conds.join(
                F.broadcast(dead), "url", "left_anti"
            )
        self.seed_urls(stale, url_types=["leaf"] * len(stale))
        self._recrawl_stale = []
        return len(stale)

    def _frontier_state(self) -> DataFrame:
        """Current frontier rows + migration shim: a warehouse written
        before the ``depth`` column existed reads depth as null — backfill
        0 so depth arithmetic, depth-mode priority and the non-null
        schema stay sound on resumed legacy crawls."""
        return (
            self.frontier.latest_state(self.spark)
            .withColumn("depth", F.coalesce(F.col("depth"), F.lit(0)))
            .withColumn("attempt", F.coalesce(F.col("attempt"), F.lit(0)))
        )

    # -- lease machinery (reference src/queue/main.go:47-87) --------------

    def reclaim_expired_leases(self) -> int:
        """F2/T1: leased rows past the visibility timeout become pending
        again (the reference sweeps every 10s for >30s-old leases)."""
        state = self._frontier_state()
        expired = state.where(
            (F.col("status") == STATUS_LEASED)
            & (
                F.col("lease_ts")
                < F.current_timestamp() - F.expr(f"INTERVAL {self.lease_timeout_s} SECONDS")
            )
        )
        ucid = self.frontier.last_commit() + 1
        updates = (
            expired.withColumn("status", F.lit(STATUS_PENDING))
            .withColumn("lease_ts", F.lit(None).cast("timestamp"))
            .withColumn("update_seq", F.lit(ucid).cast("long"))
            .persist()
        )
        # one execution of the filter: count over the cache, then write
        # from the cache (no commit at all when nothing expired)
        n = updates.count()
        if n:
            self.frontier.append(updates, meta={"op": "reclaim"})
        updates.unpersist()
        return n

    # -- purge (reference DHT Del, src/node/chord_interface.go:68-91) ------

    def _images_keys_schema(self):
        from pyspark.sql.types import LongType, StructField, StructType

        return StructType(
            [
                IMAGES_SCHEMA["image_id"],
                StructField("enqueue_seq", LongType(), True),
            ]
        )

    def _purge_watermarks(self) -> DataFrame | None:
        """(image_id, _purge_seq = max purge_seq) — broadcast-tiny; None
        when no purge ever happened (zero overhead on that path)."""
        if not self.purges.last_commit():
            return None
        return self.purges.read(self.spark).groupBy("image_id").agg(
            F.max("purge_seq").alias("_purge_seq")
        )

    def _alive_after_purge(self, df: DataFrame) -> DataFrame:
        """THE purge liveness rule, applied to any (image_id,
        enqueue_seq, ...) rows: a row survives iff its key was never
        purged or its enqueue_seq is STRICTLY past the purge watermark
        (re-stores always ride a new enqueue event). One definition,
        three call sites (seen set, gather, winner selection) — they can
        never diverge. Purges side is broadcast; df is never shuffled."""
        p = self._purge_watermarks()
        if p is None:
            return df
        return (
            df.join(F.broadcast(p), "image_id", "left")
            .where(
                F.col("_purge_seq").isNull()
                | (F.col("enqueue_seq") > F.col("_purge_seq"))
            )
            .drop("_purge_seq")
        )

    def _seen_keys_df(self) -> DataFrame:
        """Authoritative seen set: stored payload keys minus purged keys.

        Merge-on-read over two logs: the images table stays append-only
        (adopted fetch-stage files carry ``enqueue_seq`` beyond the table
        schema), and the purges table holds (key, purge_seq) tombstones."""
        keys = self.images.read(self.spark, schema=self._images_keys_schema())
        return self._alive_after_purge(keys).select("image_id")

    def _current_max_seq(self) -> int:
        carry = self._carry
        if carry is not None and carry[0] == self.frontier.last_commit():
            return carry[2]
        m = (
            self.frontier.read(self.spark)
            .agg(F.max("enqueue_seq").alias("m"))
            .collect()[0]["m"]
        )
        return m if m is not None else -1

    def purge_images(self, image_ids: list[str]) -> int:
        """Engine-level keyed purge (the GDPR path; reference Del,
        ``src/node/chord_interface.go:68-91``) — ONE call composing the
        pieces that previously existed separately:

        1. a purge tombstone commit (merge-on-read): ``gather`` and the
           storage-dedup anti-join exclude the key immediately, so the
           next ENQUEUE of its URL re-fetches and re-stores it;
        2. cuckoo fingerprint deletion (dirty-bucket exactness,
           operators/cuckoo.delete_hashes) + checkpoint re-stamp — bloom
           cannot delete, so its stale bits stay as false positives that
           the exact confirm absorbs;
        3. a round-stamped manifest, so ``rollback_to_round`` to a
           pre-purge round restores the pre-purge view.

        Physical payload bytes remain on disk until compaction/vacuum
        (Iceberg v2 merge-on-read delete semantics). Returns the purge
        commit id."""
        assert image_ids, "purge_images needs at least one key"
        max_seq = self._current_max_seq()
        now = datetime.now(timezone.utc).replace(tzinfo=None)
        cid = self.purges.append_rows(
            [(k, max_seq, now) for k in sorted(set(image_ids))],
            meta={"op": "purge", "round": self.current_round(), "n": len(image_ids)},
        )
        if isinstance(self._filter, CuckooSeenSet):
            keys_df = local_df(self.spark, [(k,) for k in image_ids], "image_id string")
            self._filter.delete_hashes(
                *spark_key_hasher(self.spark, keys_df, "image_id")
            )
            self._stamp_filter()
        return cid

    # -- persistent seen filter (bloom / cuckoo tiers) -----------------------

    def _prepare_filter(self, seen_keys: DataFrame) -> None:
        """Make ``self._filter`` cover every stored key, cheapest first:
        reuse the live filter; else reload the warehouse checkpoint and
        insert the images commits past its watermark (O(delta): a crash
        between the images commit and the filter save loses nothing);
        else build once from the seen set with 4x headroom. A filter
        whose ``needs_rebuild`` is set (bloom over capacity, a saturated
        cuckoo shard) is skipped. Stale entries left by a rollback or a
        purge are false positives only — the exact confirm is always
        authoritative."""
        cls = BloomSeenSet if self.seen_filter == "bloom" else CuckooSeenSet
        if self._filter is not None and self._filter.needs_rebuild:
            self._filter = None
        if self._filter is None:
            loaded = cls.load(self._filter_dir)
            if loaded is not None:
                filt, wm = loaded
                head = self.images.last_commit()
                if wm < head:
                    filt.insert_df(
                        self.images.read_since(self.spark, wm).select("image_id"),
                        "image_id",
                    )
                if not filt.needs_rebuild:
                    self._filter = filt
                    # wm > head (a crash mid-rollback before the re-stamp)
                    # leaves a superset — safe — but its watermark would
                    # alias reused commit ids and skip a later catch-up
                    if wm != head:
                        self._stamp_filter()
        if self._filter is None:
            seen_count = seen_keys.count()
            self._filter = cls.build(
                seen_keys,
                "image_id",
                expected_items=max(seen_count * 4, 4096),
                n_shards=4,
            )
            self._stamp_filter()

    def _stamp_filter(self) -> None:
        """Checkpoint the live filter at the current images head, or drop
        the checkpoint when there is no live filter, so a stale one can
        never load."""
        if self._filter is not None:
            self._filter.save(self._filter_dir, self.images.last_commit())
        else:
            shutil.rmtree(self._filter_dir, ignore_errors=True)

    def purge_vacuum(self) -> int:
        """Physically delete purge-dead payload rows — the GDPR
        completion of ``purge_images`` (which is merge-on-read and leaves
        bytes on disk). Iceberg analogue: ``rewrite_data_files`` +
        ``expire_snapshots``.

        One pruned scan over (image_id, enqueue_seq, _metadata.file_path)
        locates the files that contain dead rows; ONLY the commit dirs
        owning those files are rewritten (minus dead rows, full physical
        schema preserved) and their manifests atomically re-pointed —
        cost scales with the purged write-set's locality, not table
        size. Afterwards rollback can no longer resurrect the purged
        bytes (that irreversibility is the point of a physical purge);
        the purge tombstones remain, still gating pre-purge pending
        enqueues. Returns the number of rewritten data dirs."""
        spark = self.spark
        p = self._purge_watermarks()
        if p is None:
            return 0
        if not any(files for _cid, files, _m in self.images.live_commits()):
            # no live commit owns any data dir (never-written table, OR a
            # previous vacuum already emptied every dir): the read comes
            # from a local relation (no file-source relation), where
            # _metadata does not exist — nothing to vacuum
            return 0
        rows = self.images.read(
            spark, schema=self._images_keys_schema()
        ).withColumn("_f", F.col("_metadata.file_path"))
        dead = (
            rows.join(F.broadcast(p), "image_id", "left")
            .where(
                F.col("_purge_seq").isNotNull()
                & (
                    F.col("enqueue_seq").isNull()
                    | (F.col("enqueue_seq") <= F.col("_purge_seq"))
                )
            )
        )
        dead_files = {
            # Hadoop renders local URIs as file:/path (single slash)
            r["_f"].removeprefix("file://").removeprefix("file:")
            for r in dead.select("_f").distinct().collect()
        }
        if not dead_files:
            return 0
        import secrets

        # manifest bookkeeping: which live commits own a touched dir
        touched: list[tuple[int, list[str], set[str]]] = []
        for cid, files, _meta in self.images.live_commits():
            tdirs = {
                d
                for d in files
                if any(f.startswith(d + os.sep) for f in dead_files)
            }
            if tdirs:
                touched.append((cid, files, tdirs))
        all_dirs = sorted(d for _, _, ds in touched for d in ds)
        names = [os.path.basename(d) for d in all_dirs]
        # dir basenames are unique by construction (commit id + random
        # token / round number) — the single-job rewrite keys on them
        assert len(set(names)) == len(names), names
        # ONE job rewrites every touched dir: read them together (physical
        # schemas unioned — absent columns surface as null, same read
        # semantics as before), keep survivors, write partitioned by the
        # owning dir's basename. A purge spanning N commits costs one
        # Spark job, not N driver-looped read+write jobs.
        stage = os.path.join(
            self.images.root, "data", f"pvstage{secrets.token_hex(4)}"
        )
        src = (
            spark.read.option("mergeSchema", "true")
            .parquet(*all_dirs)
            .withColumn(
                "_pv_owner",
                F.substring_index(
                    F.regexp_replace(
                        F.col("_metadata.file_path"), "/[^/]+$", ""
                    ),
                    "/",
                    -1,
                ),
            )
        )
        keep = (
            src.join(F.broadcast(p), "image_id", "left")
            .where(
                F.col("_purge_seq").isNull()
                | (F.col("enqueue_seq") > F.col("_purge_seq"))
            )
            .drop("_purge_seq")
        )
        keep.write.partitionBy("_pv_owner").parquet(stage)
        # re-home each surviving partition as a plain top-level data dir
        # (manifest entries keep the same shape as any other commit dir;
        # a dir whose rows all died simply has no partition to re-home)
        n_rewritten = 0
        for cid, files, tdirs in touched:
            new_files = []
            for d in files:
                if d not in tdirs:
                    new_files.append(d)
                    continue
                n_rewritten += 1
                part = os.path.join(stage, f"_pv_owner={os.path.basename(d)}")
                if os.path.isdir(part):
                    newd = os.path.join(
                        self.images.root,
                        "data",
                        f"c{cid:08d}-pv{secrets.token_hex(4)}",
                    )
                    os.rename(part, newd)
                    new_files.append(newd)
            self.images.replace_commit_files(
                cid, new_files, {"purge_vacuumed": True}
            )
        shutil.rmtree(stage, ignore_errors=True)  # leftovers: _SUCCESS
        self.images.vacuum()  # old dirs are now unreferenced: delete bytes
        return n_rewritten

    def _reconcile_final_keys(
        self, p_dir: str, seen_keys: DataFrame
    ) -> tuple[str | None, str | None]:
        """HTTP-mode post-fetch payload dedup (redirect awareness): the
        payload key is the canonical POST-redirect URL, which exists only
        after the fetch — so the pre-fetch first-wins/seen anti-join
        (request-URL keys) is a fast path, and THIS is the authority.
        Re-runs first-wins-per-key + the exact seen anti-join over the
        staged sink=p KEYS ONLY (column-pruned — bytes never read); when
        every row survives (no redirect collisions — the overwhelmingly
        common round) the original dir adopts verbatim at zero extra
        write cost. Otherwise ONE job splits the dir by verdict
        (partitionBy) — winners adopt into the images table, losers stay
        stage-side so their status/metrics rows still flow.

        Returns (store_dir_or_None, loser_dir_or_None)."""
        spark = self.spark
        keys = spark.read.schema(self._images_keys_schema()).parquet(p_dir)
        firsts = topk_per_group(keys, ["image_id"], ["enqueue_seq"], 1)
        # the candidate-liveness rule applies to FINAL keys too: a fetch
        # that redirects into a purged key at-or-before the purge
        # watermark must not be adopted (it would be a permanently-
        # invisible row whose key still poisons the seen filter)
        winners = self._alive_after_purge(
            antijoin_exact(firsts, seen_keys, "image_id")
        ).persist()
        n_keep = winners.count()
        total = keys.count()
        if n_keep == total:
            winners.unpersist()
            return p_dir, None
        split_dir = p_dir + "-post"
        stage_codec = os.environ.get("WEAVER_STAGE_CODEC", "uncompressed")
        rows = spark.read.schema(FETCH_RESULT_SCHEMA).parquet(p_dir)
        (
            rows.join(
                winners.select("enqueue_seq").withColumn("_w", F.lit(True)),
                "enqueue_seq",
                "left",
            )
            .withColumn("_keep", F.coalesce(F.col("_w"), F.lit(False)))
            .drop("_w")
            # losers are never stored — only their status/metrics columns
            # are read downstream, so drop their payload bytes instead of
            # rewriting them into the _keep=false split
            .withColumn("bytes", F.when(F.col("_keep"), F.col("bytes")))
            .write.partitionBy("_keep")
            .option("parquet.enable.dictionary", "false")
            .option("parquet.block.size", str(8 * 1024 * 1024))
            .option("compression", stage_codec)
            .mode("overwrite")
            .parquet(split_dir)
        )
        winners.unpersist()
        keep_dir = os.path.join(split_dir, "_keep=true")
        lose_dir = os.path.join(split_dir, "_keep=false")
        return (
            keep_dir if os.path.isdir(keep_dir) else None,
            lose_dir if os.path.isdir(lose_dir) else None,
        )

    # -- the round ---------------------------------------------------------

    def current_round(self) -> int:
        if self._next_round is not None:
            return self._next_round
        rows = self.lineage.read(self.spark).agg(F.max("round").alias("m")).collect()
        m = rows[0]["m"]
        return 0 if m is None else m + 1

    def run_round(self) -> dict | None:
        """Run one crawl round; returns round stats or None if drained."""
        timing = os.environ.get("WEAVER_TIMING") == "1"
        marks: list[tuple[str, float]] = []
        t_last = time.perf_counter()

        def mark(label: str) -> None:
            nonlocal t_last
            if timing:
                now = time.perf_counter()
                marks.append((label, round(now - t_last, 2)))
                t_last = now

        spark = self.spark
        round_no = self.current_round()
        # lifecycle step 0 (SURVEY.md §3.1): expired leases rejoin the
        # pending set before scheduling — crash recovery needs no manual
        # reclaim call from the operator.
        if self.track_leases:
            self.reclaim_expired_leases()
            mark("reclaim")
        carry = self._carry
        carry_ok = carry is not None and carry[0] == self.frontier.last_commit()
        # carry hygiene: the carried scalars are exact when a compaction's
        # rewrite observed them (every round at compact_every=1); between
        # exact values they are arithmetic that assumes one stage-result
        # row per batch row and no link dedup. Rather than trust that
        # forever, the exact head aggregate re-runs once the carry has
        # gone `compact_every` (or 64) rounds without an exact value — a
        # bounded self-healing term — and WEAVER_DEBUG_CARRY=1 asserts
        # carry == aggregate every round (used in tests so drift fails
        # loudly instead of ending crawls early / running phantom rounds).
        debug_carry = os.environ.get("WEAVER_DEBUG_CARRY") == "1"
        refresh_every = self.compact_every or 64
        state = self._frontier_state().persist()
        pending = state.where(F.col("status") == STATUS_PENDING)
        if carry_ok and not debug_carry and round_no - carry[3] < refresh_every:
            n_pending, max_seq, exact_round = carry[1], carry[2], carry[3]
            mark("head_carry")
        else:
            # one driver-side scalar job: pending count + max seq together
            head = state.agg(*_head_aggs()).collect()[0]
            mark("head_agg")
            n_pending = head["n_pending"] or 0
            max_seq = head["max_seq"] or 0
            exact_round = round_no
            if carry_ok and debug_carry:
                assert (n_pending, max_seq) == (carry[1], carry[2]), (
                    f"carry desync: carried {carry[1:3]} vs exact "
                    f"({n_pending}, {max_seq})"
                )
        if not n_pending:
            state.unpersist()  # drained (a fresh carry decides it with no job)
            return None

        # schedule the batch
        cand = pending
        blocked_updates = None
        if self.mode == "scale" and getattr(self, "_auto_robots", None) is not None:
            # robots cache fill for hosts first seen this round: pending
            # hosts ANTI-JOINED against the cached host set (broadcast —
            # the robots side is host-cardinality), so the driver only
            # ever collects hosts that are genuinely new. Steady state
            # collects zero rows; total driver traffic over a crawl is
            # O(distinct hosts), not O(rounds x pending hosts).
            sites = pending.groupBy("host").agg(
                F.min(
                    F.regexp_extract("url", r"^([a-z][a-z0-9+.-]*://[^/]+)", 1)
                ).alias("site")
            )
            if self.robots_df is not None:
                sites = sites.join(
                    F.broadcast(self.robots_df.select("host")), "host", "left_anti"
                )
            if self._auto_robots.get("distributed"):
                self.refresh_robots_df(sites)
            else:
                self.refresh_robots(
                    [(r["host"], r["site"]) for r in sites.collect()]
                )
            mark("robots_fetch")
        if self.mode == "scale" and self.robots_df is not None:
            # robots enforcement: broadcast join, map-side split — the
            # frontier never shuffles for this. Disallowed rows leave the
            # pending set with a terminal 'blocked' status delta, which
            # rides the round's frontier commit (counted there by an
            # observation, no job of its own).
            cand, blocked = apply_robots(
                pending, self.robots_df, self.round_time_budget_ms
            )
            blocked_updates = blocked.withColumn(
                "status", F.lit(STATUS_BLOCKED)
            ).select(*[f.name for f in FRONTIER_SCHEMA.fields])
            mark("robots")
        if self.mode == "scale" and (
            self.host_budget is not None or self.robots_df is not None
        ):
            order = [F.col("priority").desc(), F.col("enqueue_seq").asc()]
            cap_col = (
                F.col(DELAY_CAP_COL) if self.robots_df is not None else None
            )
            if self.host_budget is None and cap_col is None:
                batch = cand
            else:
                batch, _deferred = budget_rank(
                    cand,
                    "host",
                    order,
                    self.host_budget,
                    salt_col=F.col("url_hash"),
                    salt_buckets=self.salt_buckets,
                    cap_col=cap_col,
                )
            if self.robots_df is not None:
                batch = batch.drop(DELAY_CAP_COL)
        else:
            batch = pending  # the whole FIFO wave (reproduction mode)

        batch = batch.persist()

        mark("schedule")
        lease_commit = None
        if self.track_leases:
            ucid = self.frontier.last_commit() + 1
            leased = (
                batch.drop(DELAY_MS_COL)  # pacing hint, not frontier state
                .withColumn("status", F.lit(STATUS_LEASED))
                .withColumn("lease_ts", F.current_timestamp())
                .withColumn("update_seq", F.lit(ucid).cast("long"))
            )
            lease_commit = self.frontier.append(leased, meta={"op": "lease", "round": round_no})

        # fetch + parse + decode (Arrow batches on executors). Results are
        # STAGED to parquet in one pass — the fetch-log pattern: exactly
        # one execution of the expensive python stage per round, and all
        # downstream consumers read pruned columns from the stage (the
        # links pass never touches `bytes`, the stats agg reads three
        # small columns). No multi-GB JVM caches, flat memory at any
        # round size, no recompute hazard inside write jobs.
        pages = self.web_pages
        # crawl-delay rides into the fetch stage for in-round pacing
        in_cols = ["url", "enqueue_seq", "host", "url_type", "depth"]
        if DELAY_MS_COL in batch.columns:
            in_cols.append(DELAY_MS_COL)
        if pages is not None:
            fetch_input = batch.select(*in_cols).join(
                pages.select(
                    F.col("url"),
                    F.col("kind").alias("page_kind"),
                    F.col("links").alias("page_links"),
                    F.col("image_id").alias("page_image_id"),
                    F.col("fmt").alias("page_fmt"),
                    F.col("caption").alias("page_caption"),
                ),
                "url",
                "left",
            )
        else:
            # HTTP mode: no page source — the fetch UDF talks to the web
            fetch_input = batch.select(*in_cols)
            if self._recrawl_conds is not None:
                # conditional-recrawl validators ride into the fetch UDF
                # as If-None-Match / If-Modified-Since inputs; rows
                # outside the recrawl set join null and fetch normally
                fetch_input = fetch_input.join(
                    self._recrawl_conds, "url", "left"
                )
        # Pre-fetch payload dedup (J1/S6/F8, moved AHEAD of the fetch):
        # payload keys are known before fetching (the page join provides
        # image_id; in the http path the key is the URL itself), so
        # first-wins-per-key + the seen anti-join run on (enqueue_seq,
        # image_id) KEYS ONLY, and the verdict rides into the fetch UDF
        # as a boolean. Winners materialize payload bytes into the
        # stage's sink=p partition; losers are still fetched (status,
        # links, metrics — the reference frontier has no URL dedup) but
        # never generate/carry bytes. Consequence at 100 TB: payload
        # bytes are written EXACTLY ONCE — the images commit adopts the
        # sink=p files verbatim (catalog.adopt), nothing re-encodes them.
        if pages is not None:
            payload_keys = fetch_input.where(
                F.col("page_image_id").isNotNull()
            ).select("enqueue_seq", F.col("page_image_id").alias("image_id"))
        else:
            # http path: the payload key IS the (canonical) URL
            payload_keys = fetch_input.where(
                F.col("url_type") != URL_TYPE_ROOT
            ).select("enqueue_seq", F.col("url").alias("image_id"))
        firsts = topk_per_group(payload_keys, ["image_id"], ["enqueue_seq"], 1)
        seen_keys = self._seen_keys_df()  # stored minus purged (purge API)
        if self.seen_filter == "exact":
            winner_keys = antijoin_exact(firsts, seen_keys, "image_id")
        else:
            self._prepare_filter(seen_keys)
            if self.seen_filter == "bloom":
                winner_keys = antijoin_bloom(
                    firsts, seen_keys, "image_id", filt=self._filter
                )
            else:
                winner_keys = antijoin_prefiltered(
                    firsts, seen_keys, "image_id", self._filter
                )
        # purge liveness applies to CANDIDATES too: an enqueue that
        # predates a purge of its key (enqueue_seq <= purge_seq) loses to
        # the purge — storing it would write a permanently-invisible row
        # (its seq fails the liveness rule). Skip the store; the key
        # revives only via a post-purge enqueue. Same one rule as the
        # seen set and gather (_alive_after_purge).
        winner_keys = self._alive_after_purge(winner_keys)
        if self._filter is not None:
            # the winners pipeline feeds both the fetch stage and the
            # filter-maintenance job — pin it so maintenance reuses the
            # computed keys instead of re-running the firsts window +
            # probe
            winner_keys = winner_keys.persist()
        fetch_input = fetch_input.join(
            winner_keys.select("enqueue_seq").withColumn("_store", F.lit(True)),
            "enqueue_seq",
            "left",
        )
        # Explicit repartition DIRECTLY before the fetch UDF, after the
        # page join. Load-bearing: AQE sizes post-shuffle partitions from
        # the join's tiny URL rows and would coalesce the stage to 1-4
        # tasks — but the UDF multiplies bytes ~1000x (payload decode),
        # so the stage must be sized by OUTPUT work, not input bytes. An
        # explicit numPartitions repartition is exempt from AQE
        # coalescing. Keys: (host, salt(url)) spreads mega-hosts across
        # tasks while keeping per-host locality for connection reuse.
        # Task count (_fetch_partitions): 4x oversubscription only for a
        # big batch; a small one gets one wave, because every Python-
        # worker task pays ~0.27 s of start-up before its first URL. The
        # pending count bounds the batch and is driver-side already (no
        # job).
        shuffle_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
        n_fetch_parts = _fetch_partitions(n_pending, shuffle_parts)
        salt = F.pmod(F.xxhash64("url"), F.lit(self.salt_buckets))
        if DELAY_MS_COL in fetch_input.columns:
            # crawl-delayed hosts get a CONSTANT salt: all of a delayed
            # host's rows hash to one partition, so the fetch task owns
            # the host's clock and can space its requests >= delay apart
            # (fetch.py paced_fetch). No skew risk — a delayed host is
            # already capped at round_ms/delay rows by the scheduler.
            salt = F.when(
                F.coalesce(F.col(DELAY_MS_COL) > 0, F.lit(False)), F.lit(0)
            ).otherwise(salt)
        fetch_input = fetch_input.repartition(n_fetch_parts, F.col("host"), salt)
        stage_dir = os.path.join(self.stage_root, f"r{round_no:05d}")
        # dictionary encoding off: the dominant stage bytes are unique
        # 10-25 KB image payloads — parquet dictionary building hashes
        # every blob for zero dedup value, pure CPU burn at 32-way.
        # block.size 8 MB: the default 128 MB row group grows a >100 MB
        # binary column-chunk buffer per task — G1 humongous allocations
        # (threshold 16 MB at 32 MB regions) that stall all 32 writers;
        # small row groups keep writer buffers in normal regions.
        # compression off by default: the payload column is already-
        # compressed PNG — snappy on top re-scans every blob for zero
        # ratio on write AND on every downstream stage read (measured
        # 25% of crawl wall at 16 cores). Storing pre-compressed media
        # uncompressed is the standard lakehouse practice; this write
        # only covers the stage + adopted images files — row tables keep
        # the session codec. Env-tunable because the choice moves the
        # workload's compute/DRAM ratio, which the single-box scaling
        # bench is sensitive to (BENCH/BASELINE.md measures both).
        stage_codec = os.environ.get("WEAVER_STAGE_CODEC", "uncompressed")
        # the write observes the batch's enqueue_seq range: every link's
        # and retry's parent_seq lies in it, so it bounds dense_seq's
        # buckets before the stats rollup runs (which then counts links
        # per bucket) — sequencing launches no job of its own
        seq_obs = Observation()
        fetch_input.mapInPandas(self._fetch_fn, STAGE_SCHEMA).observe(
            seq_obs,
            F.min("enqueue_seq").alias("lo"),
            F.max("enqueue_seq").alias("hi"),
        ).write.partitionBy("sink").option(
            "parquet.enable.dictionary", "false"
        ).option("parquet.block.size", str(8 * 1024 * 1024)).option(
            "compression", stage_codec
        ).mode("overwrite").parquet(stage_dir)
        seq_bounds = _seq_range(seq_obs.get)
        leaf_dirs = sorted(
            os.path.join(stage_dir, d)
            for d in os.listdir(stage_dir)
            if d.startswith("sink=")
        )

        def _read_results(dirs: list[str]) -> DataFrame:
            if not dirs:
                return local_df(spark, [], FETCH_RESULT_SCHEMA)
            df = spark.read.schema(FETCH_RESULT_SCHEMA).parquet(*dirs)
            if self.max_depth is not None:
                # depth guard: a page AT the cap is fetched, its links
                # (depth+1 > cap) are masked out here so the stats agg,
                # links pass and carry all see one capped link set
                df = df.withColumn(
                    "links",
                    F.when(F.col("depth") < self.max_depth, F.col("links")),
                )
            return df

        results = _read_results(leaf_dirs)
        mark("fetch_stage")

        # ---- payloads -> images: ADOPT the stage's sink=p files
        # (storage-key dedup already happened pre-fetch, first wins —
        # reference src/storage/main.go:146-151). A metadata-only commit:
        # no payload byte is read or rewritten. Skipped entirely on
        # link-only rounds — no empty commits. Crash-safe in both
        # directions: adopt-then-crash re-runs the round with those keys
        # now in the seen set (no winners, no payload regeneration);
        # crash-before-adopt leaves only the stage, which the re-run
        # overwrites.
        img_commit = None
        p_dir = os.path.join(stage_dir, f"sink={SINK_PAYLOAD}")
        adopted_dir = None
        loser_dir = None
        adopt_src = p_dir if os.path.isdir(p_dir) else None
        if adopt_src is not None and pages is None:
            # http mode: payload keys are POST-redirect urls — reconcile
            # first-wins + seen membership on the final keys before the
            # files enter the table (no-op rounds adopt verbatim)
            adopt_src, loser_dir = self._reconcile_final_keys(adopt_src, seen_keys)
        if adopt_src is not None:
            img_commit = self.images.adopt(
                adopt_src, meta={"op": "merge", "round": round_no}
            )
            adopted_dir = self.images.commit_files(img_commit)[0]
        # filter maintenance: the round's stored keys enter the
        # persistent filter via its DISTRIBUTED insert path (bloom: one
        # partial bitmap per task, OR-merged; cuckoo: one task per shard
        # returning one blob) — the driver receives fixed-size blobs,
        # never per-key rows — then the checkpoint is re-stamped so a
        # restart resumes from the watermark.
        if img_commit is not None and self._filter is not None:
            if pages is None:
                # http mode: the STORED keys are the post-redirect finals
                # (reconciled above) — read them from the adopted files
                # (keys-only, column-pruned), not the pre-fetch verdict
                new_keys = spark.read.schema(self._images_keys_schema()).parquet(
                    adopted_dir
                ).select("image_id")
            else:
                new_keys = winner_keys.select("image_id")
            self._filter.insert_df(new_keys, "image_id")
            self._stamp_filter()
        if self._filter is not None:
            winner_keys.unpersist()
        # the adoption MOVED sink=p (or its reconciled winner split):
        # rebind downstream consumers to the surviving locations (same
        # rows, new paths; redirect-dedup losers stay stage-side so
        # their status/metrics rows still flow)
        meta_dirs = [d for d in leaf_dirs if d != p_dir]
        if loser_dir is not None:
            meta_dirs.append(loser_dir)
        if adopted_dir is not None:
            meta_dirs.append(adopted_dir)
        results = _read_results(meta_dirs)

        mark("images_adopt")
        # ---- stats + metrics + link counts in ONE job (r7, guide §2.4
        # "fewer passes"): the round's branch-driving scalars (fetched/
        # failed/n_links/...) are sums over the per-(scan partition, host)
        # metrics groups, so a single rollup collect replaces the separate
        # global stats aggregate AND the Spark write job for the metrics
        # table — the rollup is O(partitions x hosts) rows, committed
        # driver-side via append_rows (the lineage path: launching a Spark
        # stage to write a few hundred bookkeeping rows costs ~0.5 s of
        # fixed scheduler latency per round, a pure serial term in the
        # scaling ratio). A second grouping set counts links per
        # dense_seq bucket (seq_bucket of the parent seq over the fetch
        # write's observed range), so sequencing needs no count job.
        bkt = (
            seq_bucket("enqueue_seq", seq_bounds, shuffle_parts)
            if seq_bounds is not None
            else F.lit(0)  # empty batch: no rows to bucket
        )
        rollup = (
            results.withColumn("partition_id", F.spark_partition_id())
            .withColumn("_bkt", bkt)
            .groupingSets(
                [["partition_id", "host"], ["_bkt"]], "partition_id", "host", "_bkt"
            )
            .agg(
                F.count("*").alias("fetched"),
                F.sum(
                    F.when(F.col("image_id").isNotNull(), 1).otherwise(0)
                ).alias("payloads"),
                F.sum(
                    F.when(F.col("status_code") >= 400, 1).otherwise(0)
                ).alias("failed"),
                F.sum("bytes_len").alias("bytes"),
                F.sum("fetch_ms").alias("fetch_ms_sum"),
                # the rows posexplode makes of the links column
                F.sum(F.coalesce(F.array_size("links"), F.lit(0))).alias("n_links"),
                # 304 Not Modified: a conditional recrawl row whose stored
                # payload is still fresh (kept; headers-only cost)
                F.sum(
                    F.when(F.col("status_code") == 304, 1).otherwise(0)
                ).alias("revalidated"),
                F.grouping("_bkt").alias("_by_host"),
            )
            .collect()
        )
        grp_rows = [r for r in rollup if r["_by_host"]]
        seq_counts = {r["_bkt"]: r["n_links"] for r in rollup if not r["_by_host"]}
        agg = {
            k: sum(r[k] for r in grp_rows)
            for k in ("fetched", "failed", "n_links", "revalidated")
        }
        agg["payload_rows"] = sum(r["payloads"] for r in grp_rows)
        mark("stats_agg")
        # idempotent on re-run after rollback/crash: a metrics commit for
        # this round that already exists is reused, not duplicated
        met_commit = self.metrics.find_commit(round=round_no)
        if met_commit is None:
            met_commit = self.metrics.append_rows(
                [
                    (
                        round_no,
                        r["partition_id"],
                        r["host"],
                        r["fetched"],
                        r["payloads"],  # deduped: payload rows seen
                        r["failed"],
                        r["bytes"],
                        r["fetch_ms_sum"],
                    )
                    for r in sorted(
                        grp_rows, key=lambda r: (r["partition_id"], r["host"])
                    )
                ],
                meta={"round": round_no},
            )

        mark("metrics_append")
        # ---- retries: transient failures re-enter the frontier ----------
        # (retry_failed) A retryable row becomes a NEW enqueue event at
        # link_pos -1 under its own seq — dense_seq then interleaves it
        # with this round's links exactly where the simulator's put loop
        # emits it (a failed page yields no links, so -1 never collides).
        # The failed row itself stays terminally 'failed' below: per-
        # attempt at-most-once ack parity, every attempt in history.
        n_retries = 0
        retry_rows = None
        if self.retry_failed and agg["failed"]:
            from .operators.fetch import (
                STATUS_BODY_TOO_LARGE,
                STATUS_UNSUPPORTED_MEDIA,
            )

            retry_rows = (
                batch.join(
                    results.where(
                        (F.col("status_code") >= self.retry_min_status)
                        # deterministic local rejections never retry: the
                        # answer cannot change and 598 re-streams the cap
                        & ~F.col("status_code").isin(
                            STATUS_UNSUPPORTED_MEDIA, STATUS_BODY_TOO_LARGE
                        )
                    ).select("enqueue_seq"),
                    "enqueue_seq",
                )
                .where(F.coalesce(F.col("attempt"), F.lit(0)) < self.retry_failed)
                .select(
                    F.col("enqueue_seq").alias("parent_seq"),
                    F.lit(-1).alias("link_pos"),
                    "url",
                    F.col("url_type").alias("kind"),
                    "depth",
                    (F.coalesce(F.col("attempt"), F.lit(0)) + 1).alias("attempt"),
                )
                .persist()
            )
            # one tiny keys-only count per dense_seq bucket, only on
            # rounds that saw failures: retries are sequenced with the
            # links, so their counts join the link counts
            for r in (
                retry_rows.groupBy(
                    seq_bucket("parent_seq", seq_bounds, shuffle_parts).alias("_bkt")
                )
                .count()
                .collect()
            ):
                seq_counts[r["_bkt"]] = seq_counts.get(r["_bkt"], 0) + r["count"]
                n_retries += r["count"]
            if not n_retries:
                retry_rows.unpersist()
                retry_rows = None

        # ---- discovered links -> new frontier rows (FIFO seq assignment)
        new_rows = None
        if agg["n_links"] or n_retries:
            typed = None
            if agg["n_links"]:
                links = results.where(F.size("links") > 0).select(
                    F.col("enqueue_seq").alias("parent_seq"),
                    # hrefs resolve against the POST-redirect base when
                    # the fetcher recorded one (a page served from a 301
                    # target addresses its relative links there, not at
                    # the pre-redirect request URL)
                    F.coalesce(F.col("final_url"), F.col("url")).alias("parent_url"),
                    (F.col("depth") + 1).alias("depth"),  # stage pass-through:
                    # no parent join needed for link depth
                    F.posexplode("links").alias("link_pos", "raw_url"),
                )
                if pages is not None:
                    # the synthetic fetch fn emits canonical links
                    links = links.withColumnRenamed("raw_url", "url")
                    typed = links.join(pages.select("url", "kind"), "url", "left")
                else:
                    # http mode: hrefs may be relative — resolve vs parent;
                    # discovered links are typed by the URL classifier rules
                    # (set_url_classifier), default leaf — the reference root
                    # handlers enqueue product-typed links
                    links = links.withColumn(
                        "url",
                        _resolve_canonicalize_udf(F.col("parent_url"), F.col("raw_url")),
                    )
                    typed = links.withColumn("kind", self._classify_expr(F.col("url")))
                typed = typed.select(
                    "parent_seq", "link_pos", "url", "kind", "depth"
                ).withColumn("attempt", F.lit(0))
            if retry_rows is not None:
                typed = retry_rows if typed is None else typed.unionByName(retry_rows)
            # numeric-lead variant (r7): deterministic buckets, no
            # boundary-sampling pass, no pinned intermediate — seqs
            # identical to dense_seq (see ranking.dense_seq_numeric). The
            # bounds and per-bucket counts are already on the driver, so
            # it launches no job, and the links pipeline (in HTTP mode,
            # with its resolve UDF) runs once, inside the frontier write:
            # nothing to pin.
            with_seq, _ = dense_seq_numeric(
                typed,
                ["parent_seq", "link_pos"],
                start=max_seq + 1,
                num_partitions=shuffle_parts,
                bounds=seq_bounds,
                counts=seq_counts,
            )
            new_rows = with_seq.select(
                "url",
                F.xxhash64("url").alias("url_hash"),
                F.parse_url("url", F.lit("HOST")).alias("host"),
                F.coalesce(F.col("kind"), F.lit("leaf")).alias("url_type"),
                F.col("depth"),
                _priority_expr(
                    F.coalesce(F.col("kind"), F.lit("leaf")),
                    F.col("depth"),
                    self.priority_mode,
                ).alias("priority"),
                F.lit(STATUS_PENDING).alias("status"),
                "enqueue_seq",
                F.lit(None).cast("timestamp").alias("lease_ts"),
                F.lit(round_no).alias("round"),
                "attempt",
                F.lit(0).cast("long").alias("update_seq"),  # stamped below
            )

        mark("dense_seq")
        # ---- status updates for the batch
        outcomes = results.select(
            "enqueue_seq",
            F.when(F.col("status_code") < 400, F.lit(STATUS_DONE))
            .otherwise(F.lit(STATUS_FAILED))
            .alias("_new_status"),
        )
        done_updates = (
            batch.join(outcomes, "enqueue_seq")
            .withColumn("status", F.col("_new_status"))
            .drop("_new_status")
            .withColumn("round", F.lit(round_no))
            .withColumn("lease_ts", F.lit(None).cast("timestamp"))
            .select(*[f.name for f in FRONTIER_SCHEMA.fields])
        )

        ucid = self.frontier.last_commit() + 1
        frontier_delta = done_updates
        if new_rows is not None:
            frontier_delta = new_rows.unionByName(done_updates)
        n_blocked = 0
        if blocked_updates is not None:
            # the round's ONE frontier commit also carries the robots-
            # blocked rows; the write itself counts them
            blocked_obs = Observation()
            is_blocked = F.col("status") == STATUS_BLOCKED
            frontier_delta = frontier_delta.unionByName(blocked_updates).observe(
                blocked_obs, F.sum(is_blocked.cast("int")).alias("n")
            )
        frontier_delta = frontier_delta.withColumn(
            "update_seq", F.lit(ucid).cast("long")
        )
        fr_commit = self.frontier.append(
            frontier_delta, meta={"op": "round", "round": round_no}
        )
        if blocked_updates is not None:
            n_blocked = blocked_obs.get["n"] or 0
        if retry_rows is not None:
            retry_rows.unpersist()
        # carry the next round's head scalars: every batch row left the
        # pending set (done/failed), blocked rows left it terminally, and
        # each discovered link / retry re-enqueue entered it with a fresh
        # sequence number
        n_links = agg["n_links"] or 0
        self._carry = (
            fr_commit,
            n_pending - n_blocked - agg["fetched"] + n_links + n_retries,
            max_seq + n_links + n_retries,
            exact_round,
        )

        mark("frontier_append")
        # ---- lineage (round -> commit per table; only commits that ran)
        lin_rows = [
            (round_no, "metrics", met_commit),
            (round_no, "frontier", fr_commit),
        ]
        if img_commit is not None:
            lin_rows.append((round_no, "images", img_commit))
        if lease_commit is not None:
            lin_rows.append((round_no, "frontier_lease", lease_commit))
        # tiny metadata commit — driver-side pyarrow write (catalog
        # append_rows), not a Spark job: Iceberg-style snapshot
        # bookkeeping is catalog work, and a per-round Spark stage for 3
        # rows is a serial term the scaling ratio pays at both N and 4N.
        # meta round lets rollback_to_round restore lineage by CONTENT
        # (purge commits interleave, so commit index != round).
        now = datetime.now(timezone.utc).replace(tzinfo=None)
        self.lineage.append_rows(
            [(*r, now) for r in lin_rows], meta={"round": round_no}
        )

        mark("lineage_append")
        stats = {
            "round": round_no,
            "batch": agg["fetched"],
            "payload_rows": agg["payload_rows"] or 0,
            "failed": agg["failed"] or 0,
            "links": agg["n_links"] or 0,
            "retried": n_retries,
            "revalidated": agg["revalidated"] or 0,
        }
        # stale detection (recrawl): a validator-carrying row answering
        # 200 means the stored payload is outdated. Keys-only collect,
        # bounded by the changed subset of the recrawl batch; callers
        # refresh via refresh_stale() (purge + re-enqueue).
        if self._recrawl_conds is not None:
            changed = (
                results.where(F.col("status_code") == 200)
                .join(self._recrawl_conds.select("url"), "url", "left_semi")
                .select("url")
                .collect()
            )
            if changed:
                merged = set(self._recrawl_stale) | {r["url"] for r in changed}
                self._recrawl_stale = sorted(merged)
            stats["stale"] = len(changed)
        batch.unpersist()
        state.unpersist()
        if not self.keep_stage:
            shutil.rmtree(stage_dir, ignore_errors=True)
        # periodic frontier compaction: folds the delta log into a unique-
        # per-key base so latest_state's merge window only ever spans
        # `compact_every` rounds of deltas (catalog.py base/delta split) —
        # the frontier itself is never windowed or shuffled again. Trades
        # away rollback to pre-compaction rounds (Iceberg snapshot-expiry
        # semantics), so it's opt-in.
        if self.compact_every and (round_no + 1) % self.compact_every == 0:
            comp_cid = self.frontier.compact(
                spark,
                meta={"round": round_no},
                buckets=self.compact_buckets,
                observe=_head_aggs(),
            )
            head = self.frontier.commit_meta(comp_cid).get("observed")
            if head is not None:
                # a whole-state rewrite observed the exact head scalars
                self._carry = (
                    comp_cid,
                    head["n_pending"] or 0,
                    head["max_seq"] or 0,
                    round_no + 1,
                )
            else:
                # compaction preserves state — rebind the carry to the
                # new head commit instead of falling back to the agg
                self._carry = (comp_cid, *self._carry[1:])
            mark("compact")
        self._next_round = round_no + 1
        if timing:
            self.timing_log.append((round_no, marks))
            print(f"[timing] round {round_no}: " + " ".join(f"{k}={v}" for k, v in marks))
        return stats

    def run(self, max_rounds: int = 1000) -> list[dict]:
        out = []
        for _ in range(max_rounds):
            stats = self.run_round()
            if stats is None:
                break
            out.append(stats)
        return out

    # -- resume / rollback -------------------------------------------------

    def rollback_to_round(self, round_no: int) -> None:
        """Restore every table to its state at the END of `round_no`
        (Iceberg rollback_to_snapshot analogue, driven by lineage)."""
        purges_before = self.purges.last_commit()
        lin = self.lineage.read(self.spark)
        last = {
            r["table"]: r["commit_id"]
            for r in lin.where(F.col("round") <= round_no)
            .groupBy("table")
            .agg(F.max("commit_id").alias("commit_id"))
            .collect()
        }
        self.frontier.rollback(last.get("frontier", 0) or 0)
        self.images.rollback(last.get("images", 0) or 0)
        self.metrics.rollback(last.get("metrics", 0) or 0)

        # lineage + purges roll back by their manifests' meta round (a
        # purge between rounds owns its own commit, so commit index !=
        # round; legacy lineage commits without meta fall back to the
        # one-commit-per-round index rule)
        def _keep_by_round(table: TableBackend, legacy_index: bool) -> int:
            keep = 0
            for cid in table.commits():
                r = table.commit_meta(cid).get("round")
                if r is not None:
                    ok = r <= round_no
                elif legacy_index:
                    ok = cid <= round_no + 1
                else:
                    ok = False
                if ok:
                    keep = max(keep, cid)
            return keep

        self.lineage.rollback(_keep_by_round(self.lineage, legacy_index=True))
        self.purges.rollback(_keep_by_round(self.purges, legacy_index=False))
        self._next_round = None  # recompute from lineage next round
        self._carry = None  # head scalars no longer describe the log
        # the in-memory seen filter deliberately stays STALE-BUT-SAFE: it
        # may keep entries of rolled-back keys (false positives →
        # exact-confirm traffic only) but still covers every key in the
        # rolled-back table, so it can never report a stored key as new
        # (tests/test_seen_persistence.py pins this). TWO exceptions are
        # handled conservatively:
        # 1. A rolled-back PURGE breaks the superset property: a filter
        #    (re)built after the purge lacks the now-revived key — a
        #    false-NEGATIVE generator. Drop the filter and its
        #    checkpoint; the next round rebuilds from the authoritative
        #    seen set (O(seen) once, on a rare recovery op).
        # 2. Commit ids are REUSED after rollback (catalog semantics),
        #    so a saved watermark could alias future commits and silently
        #    skip their catch-up. Re-stamp the superset filter at the
        #    rolled-back commit, or drop the checkpoint if there is no
        #    live filter to re-stamp.
        # Checkpoints of the OTHER tiers (left on this warehouse by runs
        # with another seen_filter) carry both hazards and have no live
        # filter to re-stamp: drop them.
        if self.purges.last_commit() != purges_before:
            self._filter = None
        filters_root = os.path.dirname(self._filter_dir)
        if os.path.isdir(filters_root):
            for tier in os.listdir(filters_root):
                if tier != self.seen_filter:
                    shutil.rmtree(os.path.join(filters_root, tier), ignore_errors=True)
        self._stamp_filter()

    # -- reporting -----------------------------------------------------------

    def crawl_order(self) -> DataFrame:
        """Fetched URLs in crawl order: (processing round, enqueue_seq)."""
        state = self.frontier.latest_state(self.spark)
        return (
            state.where(F.col("status").isin(STATUS_DONE, STATUS_FAILED))
            .orderBy("round", "enqueue_seq")
            .select("url", "round", "enqueue_seq", "status")
        )

    def enqueue_log(self) -> DataFrame:
        """Every enqueue event in order (the reference Put log)."""
        first = (
            self.frontier.read(self.spark)
            .groupBy("enqueue_seq")
            .agg(F.min_by("url", "update_seq").alias("url"))
        )
        return first.orderBy("enqueue_seq")

    def gather(self) -> DataFrame:
        """Reference `gather` (src/client/main.go:145-203): full merged
        scan of stored payloads, first-wins per key is already guaranteed
        by the merge discipline. Purged keys are excluded (merge-on-read
        against the purges table — same rule as the seen set) until a
        later crawl re-stores them."""
        cols = [f.name for f in IMAGES_SCHEMA.fields]
        if not self.purges.last_commit():
            return self.images.read(self.spark).orderBy("image_id")
        # full rows + the physical enqueue_seq column for the purge rule
        from pyspark.sql.types import LongType, StructField, StructType

        ext = StructType(
            IMAGES_SCHEMA.fields + [StructField("enqueue_seq", LongType(), True)]
        )
        rows = self.images.read(self.spark, schema=ext)
        return self._alive_after_purge(rows).select(*cols).orderBy("image_id")
