"""Deduplication operators for training-data pipelines, Spark-first.

Five tiers, each a DataFrame -> DataFrame transform (no collects, no
row-at-a-time Python). Oracled variants over the driver testdata live in
queries.py; these are the reusable library forms over any (id, text) or
(id, vector/phash) input.

1. exact            — hash groupBy on normalized content
2. minhash_lsh      — shingle -> minhash -> band -> bucket self-join
3. simhash          — bit-majority hash + hamming-ball candidate pairs
4. ngram_jaccard    — exact Jaccard verify over shingle sets
5. embedding_cosine — cosine near-dup pairs over vectors (see
                      similarity.py for the top-k search variants)

Plus the RESOLUTION step every near-dup tier feeds: candidate PAIRS are
not a deduped corpus — ``connected_components`` reduces the pair graph
to clusters (alternating large-star/small-star min-id propagation,
O(log n) keyed self-join rounds, no driver state beyond a convergence
scalar), ``dedup_resolve`` maps every node to its cluster's canonical
(min) id, and ``dedup_keep`` drops the non-canonical rows — the actual
"remove the duplicates" step of a training-data pipeline.

Scale notes: every self-join here is bucketed by a band/bucket key so
the shuffle is keyed and skew-bounded; pair explosion is controlled by
band width (minhash), hamming radius (simhash), or a candidate prefilter
(jaccard uses rare-shingle blocking at scale — the `max_df` knob drops
shingles present in more than a fraction of docs, the standard trick to
keep candidate generation near-linear).

Posting-list cap: every pair generator here (the three banded
operators, n-gram Jaccard, and the registry's minhash/jaccard queries)
runs through ONE primitive, ``capped_postings``: group rows by a key
(a (band, bkey) bucket, a shingle), collect the key's sorted member
list, drop the list whole when it holds more than ``max_size`` members,
and let ``suffix_pairs`` emit each surviving list's n(n-1)/2 pairs. A
key of 1e5-1e7 members (templated pages, near-identical signatures,
stopword shingles) would emit O(|key|^2) pairs, and AQE's skew split
cannot shrink a quadratic output; it would also have to be collected
into one list first. The cap therefore acts before the list is built:
a ``row_number`` over the key keeps at most ``max_size + 1`` rows, so
no aggregate ever holds more than that many members of one key. The
drop is safe by design: an over-cap bucket means (nearly) identical
signatures, which is exact-dup-shaped content that ``dedup_exact`` is
the intended pre-collapse companion for; run it first so near-identical
mass never reaches the LSH stage. Use ``overcap_buckets`` to observe
what a cap would drop (count + coverage) — bench's dedup_scale leg
logs bucket p100 and the dropped-bucket count per run.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import fingerprint_col, ngrams_col, tokens_col


def dedup_exact(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep one row per normalized content; first (min id) wins."""
    fp = fingerprint_col(F.col(text_col))
    w = df.withColumn("_fp", fp)
    keep = w.groupBy("_fp").agg(F.min(id_col).alias(id_col))
    return w.join(keep, [id_col, "_fp"], "left_semi").drop("_fp")


def capped_postings(
    rel: DataFrame, keys: list[str], id_col: str, max_size: int | None
) -> DataFrame:
    """One row per key of ``rel``: the ``keys`` columns plus ``ids``, the
    key's ``id_col`` values as a sorted list. A key with more than
    ``max_size`` rows is dropped whole (deterministically, never
    sampled). The cap bounds the list before it is built: a
    ``row_number`` over the key, ordered by ``id_col``, keeps at most
    ``max_size + 1`` rows per key — the one extra row is what tells an
    over-cap key from one exactly at the cap — so ``collect_list``
    never holds more than that. The window and the grouping share the
    key's hash partitioning: one keyed exchange, and while ``max_size +
    1`` is within ``spark.sql.optimizer.windowGroupLimitThreshold``
    Spark also trims each map task's rows per key before the exchange.
    ``max_size=None`` collects every key uncapped."""
    if max_size is not None:
        w = Window.partitionBy(*keys).orderBy(id_col)
        rel = rel.withColumn("_rn", F.row_number().over(w)).where(
            F.col("_rn") <= max_size + 1
        )
    postings = rel.groupBy(*keys).agg(F.sort_array(F.collect_list(id_col)).alias("ids"))
    if max_size is not None:
        postings = postings.where(F.size("ids") <= max_size)
    return postings


def suffix_pairs(postings: DataFrame, a: str, b: str) -> DataFrame:
    """Columns ``a``, ``b``: every pair (ids[i], ids[j]), i < j, of each
    ``ids`` list from ``capped_postings``. The lists are sorted, so a
    key of n members emits exactly its n(n-1)/2 pairs {(x, y) : x < y}
    via posexplode + suffix slice, in place: no self-join. A member
    seen under several keys yields its pair once per key; callers
    ``distinct`` or count them."""
    return (
        postings.where(F.size("ids") >= 2)
        .select(F.posexplode("ids").alias("_i", a), "ids")
        .select(a, F.explode(F.slice("ids", F.col("_i") + 2, F.size("ids"))).alias(b))
    )


def jaccard_counts(
    toks: DataFrame, id_col: str, tok_col: str, max_size: int | None, a: str, b: str
) -> DataFrame:
    """(``a``, ``b``, ``jaccard``) for every pair of ids sharing a kept
    token, ``jaccard`` unrounded. ``toks`` holds distinct (id, token)
    rows; tokens in more than ``max_size`` ids are dropped before any
    pair exists. Sizes (re-explode the kept lists, singletons included)
    and intersections (suffix pairs counted per pair) both derive from
    the one ``capped_postings`` exchange. Callers apply their own
    threshold, rounding and names."""
    postings = capped_postings(toks, [tok_col], id_col, max_size)
    sizes = (
        postings.select(F.explode("ids").alias(id_col))
        .groupBy(id_col)
        .agg(F.count("*").alias("sz"))
    )
    inter = suffix_pairs(postings, a, b).groupBy(a, b).agg(F.count("*").alias("inter"))
    sa = sizes.select(F.col(id_col).alias(a), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias(b), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, a)
        .join(sb, b)
        .select(
            a,
            b,
            (
                F.col("inter").cast("double")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
            ).alias("jaccard"),
        )
    )


def overcap_buckets(buckets: DataFrame, max_bucket: int) -> DataFrame:
    """Diagnostic: (band, bkey, bucket_size) for every bucket a
    ``max_bucket`` cap would drop. Callers log ``.count()`` (dropped
    buckets) and ``agg(max(bucket_size))`` (p100) next to the capped
    run; bench_dedup_scale does exactly that."""
    return (
        buckets.groupBy("band", "bkey")
        .agg(F.count("*").alias("bucket_size"))
        .where(F.col("bucket_size") > max_bucket)
    )


def _minhash_sigs(
    df: DataFrame, id_col: str, text_col: str, k: int, shingle_n: int
) -> DataFrame:
    """k minhash values per doc over word-shingle sets via xxhash64 with
    k seeds (JVM-side, no UDF).

    r7 note (measured, kept as-is): a zero-shuffle rewrite
    (array_min over transform(xxhash64) per row) was tried and REVERTED
    — at 101k docs the interpreted higher-order lambdas measured ~2x
    slower (sigs noop 1.6-2.1 s here vs 2.8-5.1 s map-side; full LSH
    3.8-4.1 s vs 6.6-6.9 s) than this explode shape, whose xxhash64 and
    16 min aggregates all run in whole-stage codegen over fixed-width
    longs. (The REGISTRY's md5-string variant went the other way — its
    old shape sort-aggregated strings; see queries.minhash_signatures.)
    Guide §1.1: empirical loop beats the "ideal" shuffle-free plan."""
    sh = df.select(
        F.col(id_col), F.explode(ngrams_col(F.col(text_col), shingle_n)).alias("sh")
    ).distinct()
    aggs = [
        F.min(F.xxhash64(F.col("sh"), F.lit(1000003 * i))).alias(f"mh{i}")
        for i in range(k)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def dedup_minhash_lsh(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    max_bucket: int | None = 500,
) -> DataFrame:
    """Candidate near-dup pairs: docs colliding in >=1 LSH band.

    bands * rows_per_band == num_hashes; with 16 hashes in 4 bands the
    collision threshold is ~ (1/bands)^(1/rows) ~ 0.7 Jaccard.
    ``max_bucket`` drops over-cap band buckets (see module docstring);
    run ``dedup_exact`` first so identical content never lands here."""
    assert num_hashes % bands == 0
    rows_per_band = num_hashes // bands
    sigs = _minhash_sigs(df, id_col, text_col, num_hashes, shingle_n)
    # band key = hash of the band's signature slice -> explode to
    # (band_id, band_key, id), then pairs per capped band bucket
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(
                *[F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
            ).alias("bkey"),
        )
        for b in range(bands)
    ]
    buckets = sigs.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("bb")
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.bkey").alias("bkey"))
    postings = capped_postings(buckets, ["band", "bkey"], id_col, max_bucket)
    return suffix_pairs(postings, "id_a", "id_b").distinct()


def dedup_simhash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 32,
    max_hamming: int = 3,
    max_bucket: int | None = 500,
) -> tuple[DataFrame, DataFrame]:
    """(signatures, candidate_pairs): SimHash + banded hamming blocking.

    Signature: per-bit majority over token hashes. Candidates: split the
    signature into (max_hamming+1) bands — any pair within the hamming
    radius must agree exactly on >=1 band (pigeonhole), so a per-band
    equality self-join finds all of them; verify with bit_count.
    ``max_bucket`` drops over-cap band buckets (module docstring)."""
    # signature stage deliberately stays explode + groupBy: a zero-
    # shuffle per-row rewrite (array bit counts) was measured SLOWER
    # (interpreted higher-order lambdas vs codegen'd hash + sum aggs
    # here — see queries.simhash16 r7 note); the r7 win in this
    # operator is the banded pair stage below (suffix_pairs).
    tok = df.select(F.col(id_col), F.explode(tokens_col(F.col(text_col))).alias("t"))
    h = tok.withColumn("h", F.xxhash64("t"))
    bit_sums = [
        F.sum(
            (F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) * 2 - 1)
        ).alias(f"s{b}")
        for b in range(bits)
    ]
    per_doc = h.groupBy(id_col).agg(*bit_sums)
    sig = None
    for b in range(bits):
        term = F.when(F.col(f"s{b}") > 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0).cast("long"))
        sig = term if sig is None else sig + term
    sigs = per_doc.select(F.col(id_col), sig.alias("simhash"))

    n_bands = max_hamming + 1
    band_width = bits // n_bands
    mask = (1 << band_width) - 1
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftright(F.col("simhash"), b * band_width)
            .bitwiseAND(F.lit(mask))
            .alias("bkey"),
        )
        for b in range(n_bands)
    ]
    buckets = sigs.select(
        F.struct(F.col(id_col).alias("_id"), "simhash").alias("mem"),
        F.explode(F.array(*band_cols)).alias("bb"),
    ).select("mem", F.col("bb.band").alias("band"), F.col("bb.bkey").alias("bkey"))
    postings = capped_postings(buckets, ["band", "bkey"], "mem", max_bucket)
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    pairs = (
        suffix_pairs(postings, "a", "b")
        .where(ham <= max_hamming)
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            ham.alias("hamming"),
        )
        .distinct()
    )
    return sigs, pairs


def dedup_ngram_jaccard(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 3,
    threshold: float = 0.8,
    max_df: float | None = 0.5,
) -> DataFrame:
    """Exact Jaccard near-dup pairs over shingle sets.

    Candidate generation blocks on shared shingles; `max_df` drops
    shingles occurring in more than that fraction of docs (stopword
    shingles generate quadratic candidates without adding evidence —
    a dropped shingle only lowers measured Jaccard for pairs that were
    below threshold anyway at web scale)."""
    # shape shared with the registry's ngram_jaccard_pairs: per-doc
    # distinct shingles via array_distinct in the map pass (no .distinct()
    # exchange), then jaccard_counts — one capped posting-list exchange
    # feeds both per-doc sizes and intersection counts.
    sh = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(ngrams_col(F.col(text_col), shingle_n))).alias(
            "sh"
        ),
    )
    max_size = None if max_df is None else int(max_df * df.count())
    return (
        jaccard_counts(sh, id_col, "sh", max_size, "id_a", "id_b")
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iters: int = 50,
) -> DataFrame:
    """Connected components over an undirected pair graph -> one row per
    node: (node, component) where component = the MIN node id in its
    component.

    Algorithm: alternating large-star / small-star (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14) — each
    round is two keyed groupBy+join passes over the edge set, and the
    edge set converges to stars rooted at each component's minimum in
    O(log n) rounds. Scale shape: no driver-side state beyond one
    convergence checksum per round; every pass shuffles on a node key
    (skew-bounded — a large-star pass splits high-degree stars instead
    of growing them); lineage is truncated per round with
    ``localCheckpoint`` so the iterative plan never compounds. This is
    the standard formulation for web-scale graphs (trillions of edges);
    a 100 TB corpus's near-dup pair graph is far below that.
    """
    # Constraint propagation is a pure optimizer inference (never changes
    # results) and is OFF for the duration of the star iterations: the
    # alternating passes union/join plans that SHARE attribute ids (self-
    # unions over the checkpointed edge set), and Spark 4.1's
    # UnionBase.rewriteConstraints can crash on such plans with
    # "NoSuchElementException: key not found: <attr>" depending on which
    # expression ids upstream plans happened to mint. The final result is
    # localCheckpoint-ed before the previous setting is restored so no
    # constraint-fragile union escapes this function; inputs here are
    # checkpointed RDDs, so nothing useful is inferable anyway.
    spark = pairs.sparkSession
    _CP_KEY = "spark.sql.constraintPropagation.enabled"
    try:
        prev_cp = spark.conf.get(_CP_KEY)
    except Exception:
        prev_cp = None
    spark.conf.set(_CP_KEY, "false")
    try:
        return _connected_components_inner(pairs, src, dst, max_iters)
    finally:
        if prev_cp is None:
            spark.conf.unset(_CP_KEY)
        else:
            spark.conf.set(_CP_KEY, prev_cp)


def _connected_components_inner(
    pairs: DataFrame, src: str, dst: str, max_iters: int
) -> DataFrame:
    e = (
        pairs.select(
            F.col(src).cast("long").alias("u"), F.col(dst).cast("long").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )

    def _checksum(edges: DataFrame):
        # bit_xor: order-insensitive and overflow-free under ANSI mode
        row = edges.agg(
            F.count("*").alias("n"),
            F.bit_xor(F.xxhash64("u", "v")).alias("h"),
        ).collect()[0]
        return row["n"], row["h"]

    def _large_star(edges: DataFrame) -> DataFrame:
        # symmetric view; for each node u, every strictly-larger
        # neighbor repoints at min(N(u) ∪ {u})
        sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
        mins = mins.withColumn("m", F.least(F.col("mn"), F.col("u"))).select("u", "m")
        return (
            sym.where(F.col("v") > F.col("u"))
            .join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )

    def _small_star(edges: DataFrame) -> DataFrame:
        # orient edges toward the larger endpoint; each node's smaller
        # neighbors (and itself) repoint at the minimum neighbor
        ori = edges.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        mins = ori.groupBy("u").agg(F.min("v").alias("m"))
        nbrs = (
            ori.join(mins, "u")
            .where(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        selfs = mins.select(F.col("u"), F.col("m").alias("v"))
        return nbrs.union(selfs).where(F.col("u") != F.col("v")).distinct()

    prev = _checksum(e)
    for _ in range(max_iters):
        e2 = _small_star(_large_star(e)).localCheckpoint()
        cur = _checksum(e2)
        e = e2
        if cur == prev:  # fixpoint: pure stars rooted at component minima
            break
        prev = cur
    # converged edges are (node -> component min); the roots map to
    # themselves so every node present in `pairs` gets exactly one row
    roots = e.select(F.col("v").alias("node")).distinct().select(
        "node", F.col("node").alias("component")
    )
    members = e.select(F.col("u").alias("node"), F.col("v").alias("component"))
    # materialized while constraint propagation is off (see wrapper): the
    # caller receives a plain LogicalRDD, never a shared-id self-union
    return members.union(roots).distinct().localCheckpoint()


def dedup_resolve(
    pairs: DataFrame, src: str = "id_a", dst: str = "id_b"
) -> DataFrame:
    """Candidate near-dup PAIRS -> (doc_id, canonical_id): every doc in
    any pair maps to its cluster's min id (the canonical survivor —
    min-id-wins, matching ``dedup_exact``). Docs not in any pair are
    their own canonical and simply don't appear (callers left-join)."""
    return connected_components(pairs, src, dst).select(
        F.col("node").alias("doc_id"), F.col("component").alias("canonical_id")
    )


def dedup_keep(df: DataFrame, id_col: str, pairs: DataFrame) -> DataFrame:
    """The 'drop the duplicates' step: keep only canonical docs — rows
    whose id never appears as a non-canonical member of a near-dup
    cluster. The resolved loser set is O(duplicates) and anti-joined
    against the corpus with left_anti and NO broadcast hint — web-crawl
    dup rates of 30-50% are routine, so the loser side is often NOT
    broadcast-sized; AQE picks SMJ vs broadcast from the measured size."""
    losers = (
        dedup_resolve(pairs)
        .where(F.col("doc_id") != F.col("canonical_id"))
        .select(F.col("doc_id").alias(id_col))
    )
    return df.join(losers, id_col, "left_anti")


def dedup_phash_hamming(
    df: DataFrame,
    id_col: str,
    phash_col: str = "phash",
    max_hamming: int = 6,
    max_bucket: int | None = 500,
) -> DataFrame:
    """Near-duplicate IMAGE pairs by perceptual-hash hamming distance —
    the multimodal dedup the crawl engine's images table feeds. Same
    pigeonhole banding as dedup_simhash over the 64-bit phash;
    ``max_bucket`` drops over-cap band buckets (module docstring) —
    flat-color/logo images collapse to a handful of phash values at
    web scale and would otherwise emit quadratic pairs."""
    bits, n_bands = 64, max_hamming + 1
    band_width = bits // n_bands
    mask = (1 << band_width) - 1
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftright(F.col(phash_col), b * band_width)
            .bitwiseAND(F.lit(mask))
            .alias("bkey"),
        )
        for b in range(n_bands)
    ]
    buckets = df.select(
        F.struct(F.col(id_col).alias("_id"), phash_col).alias("mem"),
        F.explode(F.array(*band_cols)).alias("bb"),
    ).select("mem", F.col("bb.band").alias("band"), F.col("bb.bkey").alias("bkey"))
    postings = capped_postings(buckets, ["band", "bkey"], "mem", max_bucket)
    ham = F.bit_count(F.col(f"a.{phash_col}").bitwiseXOR(F.col(f"b.{phash_col}")))
    return (
        suffix_pairs(postings, "a", "b")
        .where(ham <= max_hamming)
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            ham.alias("hamming"),
        )
        .distinct()
    )
