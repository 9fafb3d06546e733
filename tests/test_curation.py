"""Curation operators: LAION-style filtering, aspect buckets, shard
planning/packing (operators/curation.py). The oracled registry variants
(caption_curation_filter / aspect_bucket_rollup / shard_plan_rollup)
are covered by test_entry_oracle.py; these pin the library semantics:
shard assignment equals the single-stream reference at every partition
count, shard bytes are budget-bounded, tie-breaks are deterministic,
and packed tars are byte-reproducible."""

import hashlib
import io
import random
import tarfile

import pytest
from pyspark.sql import functions as F

from weaver_spark.operators.curation import (
    HASH_BUCKET_BITS,
    aspect_bucket_col,
    curate_image_captions,
    hash_bucket_col,
    pack_shards,
    plan_shards,
    rebalance_by_stratum,
    shard_manifest,
    split_assign_col,
)

BUDGET = 5000


def _docs(spark, n=200, seed=7):
    rnd = random.Random(seed)
    rows = [(i, rnd.randint(50, 900)) for i in range(n)]
    return spark.createDataFrame(rows, "id long, nbytes long"), rows


def _reference_plan(rows):
    """Single-stream exclusive prefix sum — the spec plan_shards must
    reproduce under any partitioning."""
    off, ref = 0, {}
    for i, b in sorted(rows):
        ref[i] = (off, off // BUDGET)
        off += b
    return ref


def test_plan_shards_matches_reference_at_every_partition_count(spark):
    df, rows = _docs(spark)
    ref = _reference_plan(rows)
    for nparts in (1, 3, 8):
        got = {
            r.id: (r.byte_offset, r.shard_id)
            for r in plan_shards(
                df, "id", "nbytes", BUDGET, num_partitions=nparts
            ).collect()
        }
        assert got == ref, f"mismatch at num_partitions={nparts}"


@pytest.mark.parametrize("lo, hi", [(0, 10**12), (-(3 << 61), 3 << 61)])
def test_plan_shards_sparse_ids(spark, lo, hi):
    """A huge gap in the ids leaves every middle bucket empty and puts
    each half in one bucket: the weighted prefix sum still equals the
    single-stream reference, also when the ids span more than 2^63
    (as hash ids do)."""
    rnd = random.Random(11)
    rows = [(i + (hi if i >= 100 else lo), rnd.randint(50, 900)) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, nbytes long")
    ref = _reference_plan(rows)
    for nparts in (1, 8):
        got = {
            r.id: (r.byte_offset, r.shard_id)
            for r in plan_shards(
                df, "id", "nbytes", BUDGET, num_partitions=nparts
            ).collect()
        }
        assert got == ref, f"mismatch at num_partitions={nparts}"


def test_plan_shards_pins_nothing(spark):
    """Planning caches nothing: no persistent RDD outlives the call."""
    jsc = spark.sparkContext._jsc
    df, _ = _docs(spark)
    before = jsc.getPersistentRDDs().size()
    plan_shards(df, "id", "nbytes", BUDGET, num_partitions=4).collect()
    assert jsc.getPersistentRDDs().size() == before


def test_shard_manifest_bytes_bounded_by_budget_plus_one_row(spark):
    df, rows = _docs(spark)
    max_row = max(b for _, b in rows)
    planned = plan_shards(df, "id", "nbytes", BUDGET, num_partitions=4)
    man = shard_manifest(planned, "id", "nbytes").collect()
    assert sum(r.n_rows for r in man) == len(rows)
    # shards are contiguous id ranges
    spans = sorted((r.first_id, r.last_id, r.shard_id) for r in man)
    for (a_lo, a_hi, _), (b_lo, b_hi, _) in zip(spans, spans[1:]):
        assert a_hi < b_lo
    for r in man:
        assert r.shard_bytes < BUDGET + max_row, r


def test_curate_image_captions_each_gate(spark):
    good = "a perfectly ordinary caption with several plain words"
    rows = [
        ("ok", 512, 512, good),
        ("tiny_w", 32, 512, good),
        ("tiny_h", 512, 32, good),
        ("stretched", 900, 100, good),
        ("too_few_tokens", 512, 512, "two words"),
        ("digit_spam", 512, 512, "12345 67890 11111 22222 33333"),
        ("no_caption_tokens", 512, 512, "!!! ??? ..."),
    ]
    df = spark.createDataFrame(rows, "id string, w int, h int, caption string")
    kept = curate_image_captions(
        df,
        min_dim=64,
        max_aspect=3.0,
        min_tokens=3,
        max_tokens=64,
        max_digit_ratio=0.5,
    )
    assert [r.id for r in kept.collect()] == ["ok"]
    row = kept.collect()[0]
    assert row.aspect == 1.0 and row.n_tokens == 8


def test_aspect_bucket_exact_and_tie_break(spark):
    rows = [
        (1, 100, 100, "1x1"),
        (2, 400, 300, "4x3"),
        (3, 300, 400, "3x4"),
        (4, 1600, 900, "16x9"),
        (5, 900, 1600, "9x16"),
        (6, 110, 100, "1x1"),
        # 7:6 is EXACTLY equidistant (integer keys both 144) between
        # 1x1 and 4x3 — the tie must go to the earlier-listed bucket
        (7, 7, 6, "1x1"),
    ]
    df = spark.createDataFrame(rows, "id long, w long, h long, want string")
    got = df.select(
        "id", "want", aspect_bucket_col(F.col("w"), F.col("h")).alias("b")
    ).collect()
    for r in got:
        assert r.b == r.want, r


def test_pack_shards_roundtrip_and_determinism(spark):
    rows = [
        (i, f"caption number {i}", bytes([i % 251]) * (40 + i))
        for i in range(30)
    ]
    df = spark.createDataFrame(rows, "id long, caption string, payload binary")
    planned = plan_shards(
        df.withColumn("nbytes", F.length("payload").cast("long")),
        "id", "nbytes", 600, num_partitions=3,
    )
    packed = pack_shards(
        planned, "id", members=[("caption", "txt"), ("payload", "bin")]
    ).collect()
    assert sum(r.n_rows for r in packed) == len(rows)
    seen = {}
    for shard in packed:
        assert hashlib.sha256(shard.tar_bytes).hexdigest() == shard.tar_sha256
        with tarfile.open(fileobj=io.BytesIO(bytes(shard.tar_bytes))) as tar:
            names = tar.getnames()
            # id order, caption member then payload member per row
            ids = [int(n.split(".")[0]) for n in names[::2]]
            assert ids == sorted(ids)
            for m in tar.getmembers():
                assert m.mtime == 0 and m.uid == 0 and m.uname == ""
                rid, ext = m.name.split(".")
                data = tar.extractfile(m).read()
                want = rows[int(rid)][1].encode() if ext == "txt" else rows[int(rid)][2]
                assert data == want
        seen[shard.shard_id] = shard.tar_sha256
    # re-pack: byte-identical shards
    packed2 = pack_shards(
        planned, "id", members=[("caption", "txt"), ("payload", "bin")]
    ).collect()
    assert {r.shard_id: r.tar_sha256 for r in packed2} == seen


def _strata_df(spark, nparts=4):
    # strata sized 400 / 200 / 40, plus an unlisted stratum
    rows = []
    i = 0
    for s, n in (("a", 400), ("b", 200), ("c", 40), ("junk", 25)):
        for _ in range(n):
            rows.append((i, s))
            i += 1
    return spark.createDataFrame(rows, "id long, s string").repartition(nparts)


@pytest.mark.parametrize("method", ["xxhash64", "md5"])
def test_rebalance_binding_stratum_kept_in_full(spark, method):
    df = _strata_df(spark)
    kept = rebalance_by_stratum(
        df, "s", "id", {"a": 1, "b": 1, "c": 1}, method=method
    )
    by = {r.s: r.n for r in kept.groupBy("s").agg(F.count("*").alias("n")).collect()}
    # binding stratum (min count/weight) survives whole; others shrink
    # toward it in expectation; the unlisted stratum is dropped
    assert by["c"] == 40
    assert "junk" not in by
    assert 0 < by["a"] < 400 and 0 < by["b"] < 200
    # every kept row's bucket clears the exact integer threshold the
    # implementation promises: th_s = (c_m * w_s * 2^B) // (w_m * c_s)
    denom = 1 << HASH_BUCKET_BITS
    th = {"a": 40 * denom // 400, "b": 40 * denom // 200, "c": denom}
    got = kept.select(
        "s", "id", hash_bucket_col(F.col("id"), method=method).alias("bkt")
    ).collect()
    for r in got:
        assert r.bkt < th[r.s], r
    # and no qualifying row was dropped
    want = {
        (r.s, r.id)
        for r in df.select(
            "s", "id", hash_bucket_col(F.col("id"), method=method).alias("bkt")
        ).collect()
        if r.s in th and r.bkt < th[r.s]
    }
    assert {(r.s, r.id) for r in got} == want


def test_rebalance_is_partition_and_rerun_invariant(spark):
    base = {
        (r.s, r.id)
        for r in rebalance_by_stratum(
            _strata_df(spark, nparts=1), "s", "id", {"a": 2, "b": 3, "c": 5}
        ).collect()
    }
    for nparts in (3, 8):
        again = {
            (r.s, r.id)
            for r in rebalance_by_stratum(
                _strata_df(spark, nparts=nparts), "s", "id",
                {"a": 2, "b": 3, "c": 5},
            ).collect()
        }
        assert again == base


def test_rebalance_rejects_empty_weights(spark):
    df = _strata_df(spark)
    with pytest.raises(ValueError):
        rebalance_by_stratum(df, "s", "id", {"a": 0})
    # weights naming only absent strata -> empty result, not an error
    assert (
        rebalance_by_stratum(df, "s", "id", {"nope": 1}).count() == 0
    )


def test_split_assign_stable_under_corpus_growth(spark):
    small = spark.range(1000).withColumn(
        "split", split_assign_col(F.col("id"))
    )
    big = spark.range(2000).withColumn(
        "split", split_assign_col(F.col("id"))
    )
    first = {r.id: r.split for r in small.collect()}
    grown = {r.id: r.split for r in big.collect() if r.id < 1000}
    assert grown == first  # no leakage across regeneration
    by = {r.split: r.n for r in big.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(by) == {"train", "val", "test"}
    assert sum(by.values()) == 2000
    assert by["train"] > 10 * max(by["val"], by["test"])  # ~18:1:1


def test_split_assign_rejects_nonpositive_weights(spark):
    with pytest.raises(ValueError):
        split_assign_col(F.col("id"), splits=(("train", 1), ("val", 0)))


def test_contamination_check_flags_planted_overlap(spark):
    from weaver_spark.operators.curation import contamination_check

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta")], "id long, text string"
    )
    corpus = spark.createDataFrame(
        [
            (1, "xx alpha beta gamma yy"),          # 1 of 3 grams hit
            (2, "completely different words here"),  # clean
            (3, "alpha beta gamma delta epsilon"),   # 2 of 3 grams hit
        ],
        "id long, text string",
    )
    got = {
        r.id: (r.n_grams, r.n_hits, r.contam_ppm)
        for r in contamination_check(
            corpus, bench, "id", "text", ngram_n=3
        ).collect()
    }
    assert got == {1: (3, 1, 333333), 3: (3, 2, 666666)}
    # non-broadcast fallback computes the same answer
    got2 = {
        r.id: (r.n_grams, r.n_hits, r.contam_ppm)
        for r in contamination_check(
            corpus, bench, "id", "text", ngram_n=3,
            broadcast_benchmark=False,
        ).collect()
    }
    assert got2 == got
