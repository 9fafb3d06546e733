"""Training-data curation operators: LAION-style image+caption
filtering, aspect-ratio bucketing, and webdataset-style shard planning
and packing — the post-crawl, pre-training stage of a 100 TB
image+caption pipeline.

These sit downstream of the crawl engine's gather table (image_id,
bytes, w, h, fmt, caption, phash) and upstream of training: filter out
junk pairs, bucket by aspect ratio for resolution-bucketed batching,
and pack the survivors into contiguous ~budget-byte shards (the
webdataset tar layout training loaders stream).

Scale notes:

- ``curate_image_captions`` and ``aspect_bucket_col`` are pure JVM
  column expressions (whole-stage codegen, no Python, no shuffle) — a
  map-only pass at any scale.
- ``aspect_bucket_col`` picks argmin |w/h - bw/bh| with INTEGER-ONLY
  arithmetic: comparing |w*bh_i - h*bw_i| / bh_i across buckets via a
  common-denominator scale (LCM of the bucket heights), so the
  assignment is bit-identical across engines — no float comparisons
  whose last-ulp differences could flip a near-tie.
- ``plan_shards`` is the textbook distributed prefix sum:
  ``ranking.dense_seq_numeric`` weighted by the row's bytes — equal-
  width buckets of the id, per-bucket byte subtotals (one tiny agg;
  the driver sees O(|buckets|) scalars, never rows), exclusive bucket
  offsets as a map literal, then a within-bucket cumulative sum. No
  global single-partition window over the data, and nothing pinned.
  For a unique id ordering, bucket offset + within-bucket prefix is
  the same global exclusive prefix under ANY order-preserving split.
- ``pack_shards`` materializes each shard as a deterministic tar via
  ``applyInPandas`` over ``shard_id`` — per-group memory is bounded by
  the shard budget (+ one straddling row), and tar metadata is pinned
  (mtime=0, uid/gid=0, ustar) so shard bytes are reproducible.

Reference parity: the reference stores scraped products row-at-a-time
through its DHT replica set (/root/reference/src/scrapper/main.go,
database node Put path) and has no training-export stage; this module
is part of the beyond-reference training-data suite (SURVEY.md §2.8
additions), like the dedup/ANN families.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import token_count_col
from .ranking import dense_seq_numeric

# the usual resolution-bucket set for image-generation training
ASPECT_BUCKETS: tuple[tuple[int, int], ...] = (
    (1, 1),
    (4, 3),
    (3, 4),
    (16, 9),
    (9, 16),
)


def digit_ratio_col(text: Column) -> Column:
    """digits / non-whitespace chars (caption spam signal)."""
    nonspace = F.greatest(
        F.length(F.regexp_replace(text, r"\s", "")), F.lit(1)
    )
    digits = F.length(F.regexp_replace(text, r"[^0-9]", ""))
    return digits.cast("double") / nonspace


def curate_image_captions(
    df: DataFrame,
    *,
    w: str = "w",
    h: str = "h",
    caption: str = "caption",
    min_dim: int = 64,
    max_aspect: float = 3.0,
    min_tokens: int = 2,
    max_tokens: int = 512,
    max_digit_ratio: float = 0.5,
) -> DataFrame:
    """LAION-style image+caption curation filter, all JVM expressions.

    Keeps rows where both dimensions clear ``min_dim``, the aspect
    ratio max(w,h)/min(w,h) is at most ``max_aspect``, the caption's
    alnum token count lies in [min_tokens, max_tokens], and the
    caption's digit ratio is at most ``max_digit_ratio``. Adds the
    computed ``aspect`` / ``n_tokens`` / ``digit_ratio`` columns so
    downstream stages (and audits) see why a row survived.
    """
    wc, hc = F.col(w).cast("double"), F.col(h).cast("double")
    aspect = F.greatest(wc, hc) / F.least(wc, hc)
    out = (
        df.withColumn("aspect", aspect)
        .withColumn("n_tokens", token_count_col(F.col(caption)))
        .withColumn("digit_ratio", digit_ratio_col(F.col(caption)))
    )
    keep = (
        (F.col(w) >= min_dim)
        & (F.col(h) >= min_dim)
        & (F.col("aspect") <= max_aspect)
        & (F.col("n_tokens") >= min_tokens)
        & (F.col("n_tokens") <= max_tokens)
        & (F.col("digit_ratio") <= max_digit_ratio)
    )
    return out.where(keep)


def aspect_bucket_col(
    w: Column,
    h: Column,
    buckets: Sequence[tuple[int, int]] = ASPECT_BUCKETS,
) -> Column:
    """Nearest aspect bucket as a ``"WxH"`` label, integer-exact.

    argmin_i |w/h - bw_i/bh_i| with ties going to the earlier bucket in
    ``buckets``. |w/h - bw/bh| = |w*bh - h*bw| / (h*bh); h > 0 cancels
    across buckets, so ordering by |w*bh_i - h*bw_i| / bh_i suffices,
    and scaling by LCM(bh_i)/bh_i makes every key an exact integer —
    the argmin is then a plain array_sort over (key, ord) structs.
    """
    lcm = math.lcm(*(bh for _, bh in buckets))
    entries = [
        F.struct(
            (
                F.abs(w * F.lit(bh) - h * F.lit(bw)) * F.lit(lcm // bh)
            ).cast("long").alias("key"),
            F.lit(i).alias("ord"),
            F.lit(f"{bw}x{bh}").alias("bucket"),
        )
        for i, (bw, bh) in enumerate(buckets)
    ]
    return F.array_sort(F.array(*entries))[0]["bucket"]


HASH_BUCKET_BITS = 20  # 5 hex nibbles of md5 == exactly 2^20 buckets


def hash_bucket_col(
    id_col: Column, *, method: str = "xxhash64"
) -> Column:
    """Deterministic per-row bucket in ``[0, 2**HASH_BUCKET_BITS)``.

    The primitive under deterministic sampling: a row's fate depends
    only on its id, never on partitioning, ordering, or a seed stream —
    re-runs, resumes and replicas make identical keep/drop decisions,
    and composed samples (mix rebalance, then split assignment) stay
    independent-ish because each stage can use a different method/salt.

    ``method="xxhash64"`` is the production path (one JVM hash, no
    string materialization). ``method="md5"`` buckets on the first 5
    hex chars of ``md5(cast(id AS string))`` — slower, but computable
    bit-identically in any engine (the cross-engine oracle path; DuckDB:
    ``('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 5))::BIGINT``).
    """
    if method == "xxhash64":
        return F.pmod(
            F.xxhash64(id_col), F.lit(1 << HASH_BUCKET_BITS)
        ).cast("long")
    if method == "md5":
        return F.conv(
            F.substring(F.md5(id_col.cast("string")), 1, 5), 16, 10
        ).cast("long")
    raise ValueError(f"unknown hash method: {method}")


def rebalance_by_stratum(
    df: DataFrame,
    stratum_col: str,
    id_col: str,
    weights: dict[str, int],
    *,
    method: str = "xxhash64",
) -> DataFrame:
    """Downsample toward a target stratum mix — the data-mixing step of
    a pretraining pipeline (e.g. rebalance languages or sources to
    target proportions before tokenization).

    ``weights`` maps stratum value -> integer target weight (relative
    proportions; they need not sum to anything). The output is the
    LARGEST deterministic subset with exactly those proportions in
    expectation, without oversampling any stratum: the binding stratum
    ``m`` (the one whose ``count/weight`` is smallest) is kept in full,
    and every other stratum s keeps the fraction

        frac_s = (count_m * w_s) / (w_m * count_s)        (<= 1)

    via ``hash_bucket < floor(frac_s * 2^B)`` — one integer threshold
    per stratum. Strata absent from ``weights`` are dropped.

    Exactness discipline: the argmin and every threshold are computed
    in arbitrary-precision INTEGER arithmetic (argmin key
    ``count_s * (lcm(weights) // w_s)``, threshold a single floor-div),
    so the selection is bit-identical across engines and immune to
    float near-ties — the same reason aspect_bucket_col cross-multiplies.

    Scale shape: one O(|strata|)-row aggregate (the only job before the
    map pass; the driver sees scalar counts, never rows), then a
    map-only filter against broadcast-literal thresholds — no shuffle
    of the data, no window, no skew sensitivity (hot strata are FILTERED,
    not grouped). Sampling error vs the exact target is
    O(sqrt(count)) per stratum — negligible at pipeline scale; small
    fixtures pin determinism, not proportions.
    """
    w = {k: int(v) for k, v in weights.items() if int(v) > 0}
    if not w:
        raise ValueError("weights must contain a positive entry")
    counts = {
        r[0]: r[1]
        for r in df.where(F.col(stratum_col).isin(*w))
        .groupBy(stratum_col)
        .count()
        .collect()
    }
    strata = sorted(k for k in w if counts.get(k))
    if not strata:
        return df.where(F.lit(False))
    lcm = math.lcm(*(w[s] for s in strata))
    m = min(strata, key=lambda s: (counts[s] * (lcm // w[s]), s))
    denom = 1 << HASH_BUCKET_BITS
    th = {
        s: min(denom, (counts[m] * w[s] * denom) // (w[m] * counts[s]))
        for s in strata
    }
    mapping = F.create_map(
        *[F.lit(x) for s in strata for x in (s, th[s])]
    )
    bucket = hash_bucket_col(F.col(id_col), method=method)
    return df.where(
        F.col(stratum_col).isin(*strata)
        & (bucket < F.coalesce(mapping[F.col(stratum_col)], F.lit(0)))
    )


def split_assign_col(
    id_col: Column,
    *,
    splits: Sequence[tuple[str, int]] = (
        ("train", 18),
        ("val", 1),
        ("test", 1),
    ),
    method: str = "xxhash64",
) -> Column:
    """Deterministic train/val/test assignment by hash range.

    ``splits`` is (name, integer weight) in order; row goes to the
    first split whose cumulative hash-bucket range contains its bucket.
    Boundaries are exact integers (``cum_w * 2^B // total_w``), so the
    assignment is engine-portable under ``method="md5"`` and — the
    property that matters operationally — STABLE: adding rows never
    moves an existing row between splits (no leakage of yesterday's
    test set into tomorrow's training set), unlike randomSplit or any
    order-dependent scheme. Map-only at any scale.
    """
    names = [n for n, _ in splits]
    ws = [int(x) for _, x in splits]
    if any(x <= 0 for x in ws):
        raise ValueError("split weights must be positive")
    total = sum(ws)
    denom = 1 << HASH_BUCKET_BITS
    bounds = []
    acc = 0
    for x in ws[:-1]:
        acc += x
        bounds.append(acc * denom // total)
    bucket = hash_bucket_col(id_col, method=method)
    expr = F.lit(names[-1])
    for name, b in zip(reversed(names[:-1]), reversed(bounds)):
        expr = F.when(bucket < b, name).otherwise(expr)
    return expr


def contamination_check(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    *,
    ngram_n: int = 8,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Train/test decontamination: flag corpus docs sharing any word
    n-gram with a benchmark/eval set (the standard pre-training hygiene
    pass — eval items leaking into the training set inflate scores).

    Returns one row per CONTAMINATED corpus doc: (id, n_grams distinct
    grams in the doc, n_hits grams also present anywhere in the
    benchmark, contam_ppm = floor(1e6 * n_hits / n_grams)).

    Scale shape (r7, single-pass): the benchmark gram set is tiny next
    to a 100 TB corpus (eval suites are human-written), so it is
    collected to a broadcast carrying a hit marker; the corpus side is
    ONE map + broadcast LEFT join + ONE per-doc agg counting all grams
    (``count(*)``) and marked grams (``count(marker)``) together — the
    corpus is exploded and shuffled exactly once (the previous shape
    ran the explode twice, feeding separate sizes/hits aggregates that
    were then re-joined). The benchmark grams are distinct, so the left
    join never duplicates a corpus row, and ``n_hits > 0`` reproduces
    the old inner-join row set. Set ``broadcast_benchmark=False`` for a
    pathologically large benchmark (falls back to a shuffle join AQE
    can re-plan).
    """
    from ..functions.text import ngrams_col

    grams = F.explode(
        F.array_distinct(ngrams_col(F.col(text_col), ngram_n))
    ).alias("gram")
    bench_grams = benchmark.select(grams).distinct().withColumn("_hit", F.lit(1))
    if broadcast_benchmark:
        bench_grams = F.broadcast(bench_grams)
    corpus_grams = corpus.select(F.col(id_col), grams)
    return (
        corpus_grams.join(bench_grams, "gram", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count("_hit").alias("n_hits"),
        )
        .where(F.col("n_hits") > 0)
        .select(
            id_col,
            "n_grams",
            "n_hits",
            F.floor(
                F.col("n_hits").cast("double") / F.col("n_grams") * 1000000
            ).alias("contam_ppm"),
        )
    )


def plan_shards(
    df: DataFrame,
    id_col: str,
    bytes_col: str,
    shard_budget: int,
    num_partitions: int | None = None,
) -> DataFrame:
    """Deterministic webdataset-style shard assignment.

    Rows ordered by the (unique, numeric) ``id_col`` form one conceptual
    byte stream; each row's ``byte_offset`` is the exclusive prefix sum
    of ``bytes_col`` and its shard is ``floor(byte_offset / budget)`` —
    contiguous shards of ~budget bytes (a shard can exceed the budget
    by at most one straddling row). Distributed prefix sum, see module
    docstring; the assignment is invariant to partition count. Two tiny
    jobs (id range, per-bucket byte sums) move O(num_partitions)
    scalars to the driver, never rows, and nothing stays cached.
    """
    return dense_seq_numeric(
        df,
        [id_col],
        seq_col="byte_offset",
        num_partitions=num_partitions,
        weight=bytes_col,
    ).withColumn("shard_id", F.floor(F.col("byte_offset") / F.lit(shard_budget)))


def shard_manifest(
    planned: DataFrame, id_col: str, bytes_col: str
) -> DataFrame:
    """Per-shard rollup of a ``plan_shards`` output — the manifest a
    training loader (or a resumable packing job) indexes by."""
    return planned.groupBy("shard_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(bytes_col).cast("long").alias("shard_bytes"),
        F.min(id_col).alias("first_id"),
        F.max(id_col).alias("last_id"),
    )


def pack_shards(
    planned: DataFrame,
    id_col: str,
    members: Sequence[tuple[str, str]],
    caption_encoding: str = "utf-8",
) -> DataFrame:
    """Materialize each shard as a deterministic in-memory tar
    (webdataset layout: one ``{id}.{ext}`` member per (column, ext) in
    ``members``, rows in id order). Returns (shard_id, n_rows,
    tar_bytes, tar_sha256); callers persist ``tar_bytes`` however their
    storage wants (the engine's TableBackend, object-store puts, ...).

    Tar metadata is pinned (ustar, mtime=0, uid/gid=0, mode 0644) so
    identical inputs produce identical shard bytes — re-runs and
    replicas verify by hash alone. Per-group memory is bounded by the
    shard budget plus one row.
    """
    import hashlib
    import io
    import tarfile

    import pandas as pd

    member_cols = [c for c, _ in members]
    out_schema = (
        "shard_id long, n_rows long, tar_bytes binary, tar_sha256 string"
    )

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col, kind="mergesort")
        buf = io.BytesIO()
        # name=None tuples + a positional column map: pandas' named
        # itertuples positionally RENAMES columns that are not valid
        # Python identifiers (dotted/spacey names) or collide, which
        # made _asdict()[col] raise for legal member column names
        col_idx = {c: i for i, c in enumerate(pdf.columns)}
        id_i = col_idx[id_col]
        member_idx = [(col_idx[c], ext) for c, ext in members]
        with tarfile.open(
            fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT
        ) as tar:
            for row in pdf.itertuples(index=False, name=None):
                for ci, ext in member_idx:
                    raw = row[ci]
                    if raw is None:
                        continue
                    data = (
                        raw.encode(caption_encoding)
                        if isinstance(raw, str)
                        else bytes(raw)
                    )
                    info = tarfile.TarInfo(name=f"{row[id_i]}.{ext}")
                    info.size = len(data)
                    info.mtime = 0
                    info.uid = info.gid = 0
                    info.uname = info.gname = ""
                    info.mode = 0o644
                    tar.addfile(info, io.BytesIO(data))
        blob = buf.getvalue()
        return pd.DataFrame(
            {
                "shard_id": [int(pdf["shard_id"].iloc[0])],
                "n_rows": [len(pdf)],
                "tar_bytes": [blob],
                "tar_sha256": [hashlib.sha256(blob).hexdigest()],
            }
        )

    cols = ["shard_id", id_col, *member_cols]
    return (
        planned.select(*cols)
        .groupBy("shard_id")
        .applyInPandas(_pack, schema=out_schema)
    )
