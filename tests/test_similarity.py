from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from ais_etl_spark.operators import similarity as S


@pytest.fixture(scope="module")
def vecs(spark):
    # deterministic unit-ish vectors in 4d
    rows = []
    for i in range(40):
        v = [math.sin(i * 1.7 + d) for d in range(4)]
        rows.append((i, v))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def brute_force(rows, qid, k):
    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return dot / (na * nb)

    q = dict(rows)[qid]
    scored = [
        (round(cos(v, q), 6), nid) for nid, v in rows if nid != qid
    ]
    scored.sort(key=lambda t: (-t[0], t[1]))
    return [nid for _, nid in scored[:k]]


def test_cosine_topk_exact(vecs):
    rows = [(r["vec_id"], [float(x) for x in r["embedding"]]) for r in vecs.collect()]
    queries = vecs.filter(F.col("vec_id") < 3)
    got = S.cosine_topk(vecs, queries, k=5).collect()
    by_q: dict[int, list[tuple[int, int]]] = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"]))
    for qid in range(3):
        ordered = [nid for _, nid in sorted(by_q[qid])]
        assert ordered == brute_force(rows, qid, 5), qid


def test_ivf_topk_recall(vecs):
    queries = vecs.filter(F.col("vec_id") < 3)
    exact = S.cosine_topk(vecs, queries, k=5)
    approx = S.ivf_topk(vecs, queries, k=5, n_cells=4, nprobe=2)
    e = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx.collect()}
    # probing half the cells must recover at least half the true top-5
    assert len(e & a) / len(e) >= 0.5


def test_lsh_topk_subset_of_bucket(vecs):
    queries = vecs.filter(F.col("vec_id") < 3)
    got = S.lsh_topk(vecs, queries, dim=4, k=5, nbits=2)
    buckets = {r["vec_id"]: r["bucket"] for r in
               S.lsh_bucket(vecs, dim=4, nbits=2).collect()}
    for r in got.collect():
        assert buckets[r["neighbor_id"]] == buckets[r["query_id"]]
        assert r["neighbor_id"] != r["query_id"]


def test_lsh_bucket_deterministic(vecs):
    b1 = {r["vec_id"]: r["bucket"] for r in S.lsh_bucket(vecs, dim=4, nbits=8).collect()}
    b2 = {r["vec_id"]: r["bucket"] for r in S.lsh_bucket(vecs, dim=4, nbits=8).collect()}
    assert b1 == b2
    assert 0 <= min(b1.values()) and max(b1.values()) < 256


def test_kmeans_refine_deterministic_and_improves_balance(vecs):
    seeds = {r["cell"]: list(r["embedding"]) for r in
             S.seed_centroids(vecs, 4).collect()}
    assert sorted(seeds) == [0, 1, 2, 3]
    c1 = {r["cell"]: [round(float(x), 9) for x in r["embedding"]] for r in
          S.kmeans_refine(vecs, 4, dim=4, iters=2).collect()}
    c2 = {r["cell"]: [round(float(x), 9) for x in r["embedding"]] for r in
          S.kmeans_refine(vecs, 4, dim=4, iters=2).collect()}
    assert c1 == c2  # replay determinism
    # trained cells must partition the corpus more evenly than raw
    # seeds (first-n vectors are nearly collinear for this generator)
    def cell_sizes(cents_df):
        assigned = S.ivf_assign(vecs, cents_df)
        return sorted(
            r["n"] for r in assigned.groupBy("cell").count()
            .withColumnRenamed("count", "n").collect()
        )
    trained = cell_sizes(S.kmeans_refine(vecs, 4, dim=4, iters=2))
    assert len(trained) == 4 and min(trained) >= 1


def test_ivf_topk_trained_recall_not_worse(vecs):
    queries = vecs.filter(F.col("vec_id") < 3)
    exact = {(r["query_id"], r["neighbor_id"])
             for r in S.cosine_topk(vecs, queries, k=5).collect()}
    seeded = {(r["query_id"], r["neighbor_id"])
              for r in S.ivf_topk(vecs, queries, k=5, n_cells=4, nprobe=2).collect()}
    trained = {(r["query_id"], r["neighbor_id"])
               for r in S.ivf_topk(vecs, queries, k=5, n_cells=4, nprobe=2,
                                   train_iters=2, dim=4).collect()}
    assert len(trained & exact) >= len(seeded & exact)


def _md5_vecs(spark, n=20, dim=8, schema="vec_id long, embedding array<double>"):
    import hashlib

    rows = []
    for i in range(n):
        v = [((int(hashlib.md5(f"{i}:{d}".encode()).hexdigest()[:8], 16)
               / 0xFFFFFFFF) * 2 - 1) for d in range(dim)]
        rows.append((i, v))
    return spark.createDataFrame(rows, schema)


def test_cosine_topk_chunked_parity(spark):
    """Query sets above max_collect_queries are processed in
    keyset-paginated CHUNKS (r5: the unconditioned-join fallback is
    gone) — identical output to the single-chunk path. cap=2 over 6
    queries forces 3 chunks + the pagination boundary logic."""
    from ais_etl_spark.operators.similarity import cosine_topk

    vecs = _md5_vecs(spark)
    queries = vecs.filter("vec_id < 6")
    a = {(r.query_id, r.rank): (r.neighbor_id, r.cosine)
         for r in cosine_topk(vecs, queries, k=5).collect()}
    b = {(r.query_id, r.rank): (r.neighbor_id, r.cosine)
         for r in cosine_topk(vecs, queries, k=5, max_collect_queries=2).collect()}
    assert a == b and len(a) == 30


def test_cosine_topk_string_ids(spark):
    """String vec_ids must work end to end (ADVICE r4: the int64-only
    closure crashed on them), on both the single-chunk and chunked
    paths, with the same neighbors the numeric-id run produces."""
    from ais_etl_spark.operators.similarity import cosine_topk

    nums = _md5_vecs(spark, n=12)
    strs = nums.select(
        F.format_string("doc-%02d", F.col("vec_id")).alias("vec_id"),
        "embedding",
    )
    qn = nums.filter("vec_id < 4")
    qs = strs.filter("vec_id < 'doc-04'")
    want = {(f"doc-{r.query_id:02d}", r.rank, f"doc-{r.neighbor_id:02d}", r.cosine)
            for r in cosine_topk(nums, qn, k=3).collect()}
    got = {(r.query_id, r.rank, r.neighbor_id, r.cosine)
           for r in cosine_topk(strs, qs, k=3).collect()}
    got_chunked = {(r.query_id, r.rank, r.neighbor_id, r.cosine)
                   for r in cosine_topk(strs, qs, k=3, max_collect_queries=2).collect()}
    assert got == want and got_chunked == want


def test_quantize_overflow_guard():
    """Vectors outside the exact-int64 envelope must raise, not wrap
    (ADVICE r4): dim·(1e6·max)² ≥ 2^53 is rejected with a clear
    message; in-envelope vectors pass."""
    import numpy as np

    from ais_etl_spark.operators.similarity import _quantize

    ok = np.full((3, 64), 1.0)
    assert _quantize(ok).shape == (3, 64)
    bad = np.full((3, 64), 400.0)  # 64·(4e8)² ≈ 1e19 ≫ 2^53
    with pytest.raises(ValueError, match="quantized cosine out of exact range"):
        _quantize(bad)


def test_ivf_build_persist_and_load(spark, tmpdir_path, vecs):
    """ivf_build(path=...) persists centroids + cell-partitioned
    assignments; ivf_topk over the LOADED index returns exactly what
    the inline-trained query returns (train once, probe many)."""
    queries = vecs.filter(F.col("vec_id") < 3)
    inline = {(r.query_id, r.rank, r.neighbor_id, r.cosine)
              for r in S.ivf_topk(vecs, queries, k=5, n_cells=4, nprobe=2,
                                  train_iters=2, dim=4).collect()}
    import os

    idx_path = os.path.join(tmpdir_path, "ivf-idx")
    S.ivf_build(vecs, n_cells=4, dim=4, train_iters=2, path=idx_path)
    index = S.ivf_load(spark, idx_path)
    loaded = {(r.query_id, r.rank, r.neighbor_id, r.cosine)
              for r in S.ivf_topk(vecs, queries, k=5, nprobe=2,
                                  index=index).collect()}
    assert loaded == inline and loaded
    # assignments persisted cell-partitioned (partition pruning at rest)
    parts = [d for d in os.listdir(os.path.join(idx_path, "assigned"))
             if d.startswith("cell=")]
    assert len(parts) >= 2


def test_cosine_topk_float_ids_numeric_tiebreak(spark):
    """Float/double vec_ids must tie-break NUMERICALLY in the local
    partial-top-k pass, exactly as the global window's F.asc does —
    the former '<U' string sort ordered '10.0' < '2.0' < '9.0' and
    discarded the very neighbor the global rank expected at a
    tied-cosine k boundary."""
    v = [1.0, 0.0]
    corpus = spark.createDataFrame(
        [(2.0, v), (9.0, v), (10.0, v)],
        "vec_id double, embedding array<double>",
    )
    queries = spark.createDataFrame(
        [(0.5, v)], "vec_id double, embedding array<double>"
    )
    got = S.cosine_topk(corpus, queries, k=2).orderBy("rank").collect()
    assert [r["neighbor_id"] for r in got] == [2.0, 9.0]


def test_cosine_topk_rejects_a_duplicate_query_id_across_pages(spark):
    """Keyset pagination (qid > last page's max) would drop the second
    copy of an id that straddles a page boundary; it must raise."""
    from ais_etl_spark.operators.similarity import cosine_topk

    vecs = _md5_vecs(spark, n=8)
    queries = vecs.filter("vec_id < 3").unionByName(vecs.filter("vec_id = 1"))
    with pytest.raises(ValueError, match="duplicate"):
        cosine_topk(vecs, queries, k=3, max_collect_queries=2).collect()


def test_cosine_topk_rejects_a_null_query_id(spark):
    """A null query id cannot be paginated past (``qid > NULL`` is
    never true); it must raise instead of being scored or dropped."""
    from ais_etl_spark.operators.similarity import cosine_topk

    vecs = _md5_vecs(spark, n=8)
    queries = vecs.filter("vec_id < 3").unionByName(
        vecs.filter("vec_id = 3").withColumn("vec_id", F.lit(None).cast("long"))
    )
    with pytest.raises(ValueError, match="null"):
        cosine_topk(vecs, queries, k=3, max_collect_queries=2).collect()
