"""Hot keys in the dedup family: no posting list is collected past its cap.

The corpus holds an exact-duplicate block of 2000 docs (above the
registry's 100-doc LSH bucket cap, the operators' 500-doc default and
the 0.5 * n Jaccard document-frequency cap) and one token present in
every doc. Every minhash / simhash / phash / n-gram Jaccard path runs
over it and must (a) return the pair set its oracle returns and (b) feed
each ``collect_list`` aggregate at most ``cap + 1`` rows of any one key,
read from the executed plan's SQL metrics: a path that collects a hot
key's whole list and only then drops it by size shows the full key
there.
"""

import re
from collections import Counter

import duckdb
import pytest
from pyspark.sql import functions as F

from weaver_spark import queries
from weaver_spark.operators.dedup import (
    dedup_minhash_lsh,
    dedup_ngram_jaccard,
    dedup_simhash,
)

N_DUP = 2000
DUP_TEXT = "terms of service all rights reserved cookie policy contact us common"
LEGIT = {
    1: "the quick brown fox jumps over the lazy dog near the river bank today common",
    2: "the quick brown fox jumps over the lazy dog near the river bank tomorrow common",
    3: "completely different text about spark shuffle partitions and joins etc common",
    4: "another unrelated document discussing bloom filters and politeness common",
}
TEXTS = {**LEGIT, **{10000 + i: DUP_TEXT for i in range(N_DUP)}}
N_DOCS = len(TEXTS)


def _tokens(text: str) -> list[str]:
    return [t for t in re.split("[^a-z0-9]+", text.lower()) if t]


def _shingles(text: str, n: int) -> set[str]:
    toks = _tokens(text)
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


@pytest.fixture(scope="module")
def sf_dir(tmp_path_factory):
    """A registry table dir holding only ``documents.parquet``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("hot_sf")
    ids = sorted(TEXTS)
    texts = [TEXTS[i] for i in ids]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "text": texts,
                "lang": ["en"] * len(ids),
                "source": ["src0"] * len(ids),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        str(d / "documents.parquet"),
    )
    return str(d)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(sorted(TEXTS.items()), "doc_id int, text string")


def _duckdb_rows(sql: str, sf: str) -> set[tuple]:
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'")
    rows = set(con.execute(sql).fetchall())
    con.close()
    return rows


def _rows(node) -> int | None:
    m = node.metrics().get("numOutputRows")
    return m.get().value() if m.isDefined() else None


def _children(node) -> list:
    name = node.nodeName()
    if name == "AdaptiveSparkPlan":
        return [node.executedPlan()]
    if "QueryStage" in name:
        return [node.plan()]
    kids = node.children()
    return [kids.apply(i) for i in range(kids.size())]


def _collect_list_inputs(df) -> list[int]:
    """Rows fed into each ``collect_list`` aggregate of ``df``'s executed
    (already run) plan: the ``numOutputRows`` of the nearest node below
    it that counts rows (projects, codegen wrappers and exchanges pass
    rows through without a count). An aggregate fed by a reused exchange
    has no such node; its rows are counted where the exchange first ran."""
    out = []

    def walk(node):
        if "Aggregate" in node.nodeName() and "collect_list" in str(
            node.aggregateExpressions().toString()
        ):
            below = _children(node)
            while below and _rows(below[0]) is None:
                below = _children(below[0])
            if below:
                out.append(_rows(below[0]))
        for c in _children(node):
            walk(c)

    walk(df._jdf.queryExecution().executedPlan())
    return out


def _assert_capped(df, key_rows: int, key_counts, cap: int) -> None:
    """``df`` has run. ``key_rows`` is the number of (key, member) rows
    the path groups; ``key_counts`` lower-bounds the sizes of some of its
    keys. If every aggregate holds at most ``cap + 1`` rows per key, none
    takes more than ``key_rows`` minus those keys' excess over ``cap + 1``."""
    bound = key_rows - sum(max(0, c - cap - 1) for c in key_counts)
    inputs = _collect_list_inputs(df)
    assert inputs, "no collect_list aggregate in the executed plan"
    assert all(n <= bound for n in inputs), (inputs, bound)


def _token_keys(shingle_n: int | None) -> Counter:
    keys: Counter = Counter()
    for text in TEXTS.values():
        keys.update(set(_tokens(text)) if shingle_n is None else _shingles(text, shingle_n))
    return keys


def test_minhash_lsh_pairs_query_hot_bucket(spark, sf_dir):
    df = queries.minhash_lsh_pairs(spark, sf_dir)
    got = {tuple(r) for r in df.collect()}
    assert got == _duckdb_rows(queries.MINHASH_PAIRS_SQL, sf_dir)
    assert not any(a >= 10000 for a, _ in got)
    # two bands; the duplicate block fills one bucket in each
    _assert_capped(df, 2 * N_DOCS, [N_DUP, N_DUP], 100)


def test_ngram_jaccard_pairs_query_hot_tokens(spark, sf_dir):
    df = queries.ngram_jaccard_pairs(spark, sf_dir)
    got = {(r["doc_a"], r["doc_b"], r["jaccard"]) for r in df.collect()}
    assert got == _duckdb_rows(queries.JACCARD_SQL, sf_dir)
    assert {(a, b) for a, b, _ in got} == {(1, 2)}
    keys = _token_keys(None)
    assert keys["common"] == N_DOCS
    _assert_capped(df, sum(keys.values()), keys.values(), N_DOCS // 2)


def test_phash_neardup_pairs_query_hot_buckets(spark, sf_dir):
    df = queries.phash_neardup_pairs(spark, sf_dir)
    got = {tuple(r) for r in df.collect()}
    assert got == _duckdb_rows(queries.PHASH_PAIRS_SQL, sf_dir)
    # docs 1..4 plus their planted twins, seven bands each
    n_rows = N_DOCS + len(LEGIT)
    _assert_capped(df, 7 * n_rows, [N_DUP] * 7, 500)


def test_dedup_ngram_jaccard_hot_shingles(docs):
    df = dedup_ngram_jaccard(docs, "doc_id", "text", shingle_n=3, threshold=0.7)
    got = {(r["id_a"], r["id_b"]) for r in df.collect()}
    # brute-force oracle: shingles in more than half the docs are dropped
    keys = _token_keys(3)
    cap = N_DOCS // 2
    kept = {i: {s for s in _shingles(t, 3) if keys[s] <= cap} for i, t in TEXTS.items()}
    post: dict[str, list[int]] = {}
    for i, sh in kept.items():
        for s in sh:
            post.setdefault(s, []).append(i)
    cands = {(a, b) for ids in post.values() for a in ids for b in ids if a < b}
    want = {
        (a, b)
        for a, b in cands
        if len(kept[a] & kept[b]) / len(kept[a] | kept[b]) >= 0.7
    }
    assert got == want == {(1, 2)}
    _assert_capped(df, sum(keys.values()), keys.values(), cap)


def test_banded_operators_hot_buckets(spark, docs):
    """The cap removes exactly the duplicate block: pairs over the full
    corpus equal uncapped pairs over the legitimate docs alone."""
    legit = docs.where(F.col("doc_id") < 10000)

    mh = dedup_minhash_lsh(docs, "doc_id", "text")
    got = {tuple(r) for r in mh.collect()}
    want = {tuple(r) for r in dedup_minhash_lsh(legit, "doc_id", "text", max_bucket=None).collect()}
    assert got == want
    _assert_capped(mh, 4 * N_DOCS, [N_DUP] * 4, 500)

    _, sh = dedup_simhash(docs, "doc_id", "text")
    got = {tuple(r) for r in sh.collect()}
    _, sh_legit = dedup_simhash(legit, "doc_id", "text", max_bucket=None)
    assert got == {tuple(r) for r in sh_legit.collect()}
    _assert_capped(sh, 4 * N_DOCS, [N_DUP] * 4, 500)


def test_capped_postings_boundary(spark):
    """A key of exactly ``max_size`` rows is kept whole, one of
    ``max_size + 1`` is dropped, and ``None`` keeps every key."""
    from weaver_spark.operators.dedup import capped_postings

    sizes = {"a": 2, "b": 3, "c": 4, "d": 9}
    rel = spark.createDataFrame(
        [(k, i) for k, n in sizes.items() for i in range(n, 0, -1)], "k string, id int"
    )
    capped = {r["k"]: r["ids"] for r in capped_postings(rel, ["k"], "id", 3).collect()}
    assert capped == {"a": [1, 2], "b": [1, 2, 3]}
    full = {r["k"]: len(r["ids"]) for r in capped_postings(rel, ["k"], "id", None).collect()}
    assert full == sizes

