from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from ais_etl_spark.operators import dedup as D
from pair_chain import embedding_cosine_pairs, lsh_candidate_pairs

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog near the river bank"),
    (1, "the quick brown fox jumps over the lazy dog near the river bank"),  # exact dup of 0
    (2, "the quick brown fox jumps over the lazy dog near the river delta"),  # near dup
    (3, "completely different text about spark partitions and shuffle plans"),
    (4, "tiny"),  # < 3 tokens → no shingles
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_dedup_exact(docs):
    rows = {r["content_md5"]: r for r in D.dedup_exact(docs).collect()}
    dup_hash = hashlib.md5(DOCS[0][1].encode()).hexdigest()
    assert rows[dup_hash]["n_docs"] == 2
    assert rows[dup_hash]["keep_id"] == 0
    assert len(rows) == 4


def test_shingles_match_python(docs):
    got = docs.select("doc_id", D.shingles(F.col("text"), 3).alias("s")).collect()
    for r in got:
        toks = DOCS[r["doc_id"]][1].split()
        want = [" ".join(toks[i : i + 3]) for i in range(max(len(toks) - 2, 0))]
        assert r["s"] == want


def test_minhash_lsh_finds_dups(docs):
    pairs = {(r["doc_a"], r["doc_b"]) for r in D.minhash_lsh_pairs(docs, k=8, bands=4).collect()}
    assert (0, 1) in pairs  # exact dups always collide
    assert all(3 not in p for p in pairs)  # unrelated doc never pairs


def test_ngram_jaccard(docs):
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in
           D.ngram_jaccard_pairs(docs, threshold=0.3).collect()}
    assert got[(0, 1)] == 1.0
    # doc 2 differs in last token: 13 tokens → 11 shingles, 10 shared
    assert got[(0, 2)] == round(10 / 12, 6)


def test_ngram_jaccard_with_candidates(docs, spark):
    cand = spark.createDataFrame([(0, 1)], "doc_a long, doc_b long")
    got = D.ngram_jaccard_pairs(docs, threshold=0.0, candidates=cand).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in got} == {(0, 1)}


def test_ngram_lsh_recall_on_gate_corpus(spark):
    """The gate's dedup_ngram_jaccard hash-matches an EXACT all-pairs
    oracle while generating candidates via banded MinHash-LSH, whose
    recall is probabilistic. This pins the completeness assumption to
    the corpus the gate actually runs: every exact Jaccard>=0.5 pair
    must be an LSH(k=16, b=4) candidate — a corpus/seed change that
    breaks it fails HERE, not silently in the gate."""
    import os

    path = "/root/testdata/sf0.01/documents.parquet"
    if not os.path.exists(path):
        pytest.skip("gate corpus absent")
    docs = spark.read.parquet(path)
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in D.ngram_jaccard_pairs(docs, shingle_n=3, threshold=0.5).collect()
    }
    cand = {
        (r["doc_a"], r["doc_b"])
        for r in D.minhash_lsh_pairs(docs, k=16, bands=4, shingle_n=3).collect()
    }
    assert exact <= cand, f"LSH missed exact pairs: {sorted(exact - cand)[:10]}"


def test_ngram_candidates_join_survives_no_broadcast(spark, docs):
    """The candidate semi-join must stay an equi-join (shuffled hash /
    sort-merge) with broadcast disabled — the 100 TB case where the
    candidate set exceeds any broadcast threshold. Same rows, no
    CartesianProduct/BroadcastNestedLoopJoin in the executed plan."""
    import contextlib
    import io

    cand = D.minhash_lsh_pairs(docs, k=8, bands=4)
    baseline = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in D.ngram_jaccard_pairs(docs, threshold=0.3, candidates=cand).collect()
    }
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = D.ngram_jaccard_pairs(docs, threshold=0.3, candidates=cand)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        got = {(r["doc_a"], r["doc_b"], r["jaccard"]) for r in df.collect()}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert got == baseline


def test_simhash_builtin_matches_python(docs):
    got = {r["doc_id"]: r["simhash"] for r in D.simhash_signatures(docs).collect()}
    for doc_id, text in DOCS:
        if doc_id in got:  # empty-token docs produce no row in explode form
            assert got[doc_id] == D.simhash32(text), doc_id
    udf = D.simhash_udf()
    fast = {r["doc_id"]: r["sh"] for r in docs.select("doc_id", udf("text").alias("sh")).collect()}
    assert fast == {d: D.simhash32(t) for d, t in DOCS}


def test_simhash_pairs(spark, docs):
    sigs = docs.select("doc_id", D.simhash_udf()("text").alias("simhash"))
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in
             D.simhash_pairs(sigs, max_hamming=8).collect()}
    assert pairs[(0, 1)] == 0
    assert (0, 2) in pairs  # near-dup within hamming 8


def test_simhash_pairs_blocked_parity(spark, docs):
    """Pigeonhole blocking must be lossless: blocked == all-pairs."""
    sigs = docs.select("doc_id", D.simhash_udf()("text").alias("simhash"))
    for mh in (3, 8):
        blocked = {(r["doc_a"], r["doc_b"], r["hamming"]) for r in
                   D.simhash_pairs(sigs, max_hamming=mh, blocked=True).collect()}
        allp = {(r["doc_a"], r["doc_b"], r["hamming"]) for r in
                D.simhash_pairs(sigs, max_hamming=mh, blocked=False).collect()}
        assert blocked == allp, mh


def _det_vecs(spark, n=24, dim=8):
    rows = []
    for i in range(n):
        h = hashlib.md5(f"v{i}".encode()).digest()
        rows.append((i, [(h[d % 16] - 128) / 128.0 for d in range(dim)]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_embedding_cosine_candidates_parity(spark):
    """candidates=all-pairs must reproduce the crossJoin form exactly;
    LSH candidates must yield exactly exact ∩ candidate-pairs."""
    vecs = _det_vecs(spark)
    exact = {(r["doc_a"], r["doc_b"]): r["cosine"] for r in
             embedding_cosine_pairs(vecs, threshold=0.2).collect()}
    ids = [r["vec_id"] for r in vecs.select("vec_id").collect()]
    allpairs = spark.createDataFrame(
        [(a, b) for a in ids for b in ids if a < b], "doc_a long, doc_b long"
    )
    via_all = {(r["doc_a"], r["doc_b"]): r["cosine"] for r in
               embedding_cosine_pairs(vecs, threshold=0.2, candidates=allpairs).collect()}
    assert via_all == exact
    cand = lsh_candidate_pairs(vecs, dim=8, nbits=2)
    cand_set = {(r["doc_a"], r["doc_b"]) for r in cand.collect()}
    via_lsh = {(r["doc_a"], r["doc_b"]): r["cosine"] for r in
               embedding_cosine_pairs(vecs, threshold=0.2, candidates=cand).collect()}
    assert via_lsh == {p: c for p, c in exact.items() if p in cand_set}


def test_embedding_cosine_bucketed_parity(spark):
    """The fused per-bucket matmul path (r6) must reproduce the
    candidate-chain result row-for-row, cosines included — same LSH
    buckets, same quantized-exact scoring, only the physical plan
    differs (one groupBy shuffle + in-bucket Gram matrix instead of
    candidate distinct + two vector re-attach joins + pair UDF)."""
    vecs = _det_vecs(spark, n=40)
    cand = lsh_candidate_pairs(vecs, dim=8, nbits=2)
    chain = {(r["doc_a"], r["doc_b"]): r["cosine"] for r in
             embedding_cosine_pairs(vecs, threshold=0.2, candidates=cand).collect()}
    fused = {(r["doc_a"], r["doc_b"]): r["cosine"] for r in
             D.embedding_cosine_pairs_bucketed(
                 vecs, dim=8, nbits=2, threshold=0.2).collect()}
    assert fused == chain and len(fused) > 0
    # row-block boundary: a tiny block size forces the blocked Gram
    # computation to cross block edges mid-bucket — same rows must fall out
    blocked = {(r["doc_a"], r["doc_b"]): r["cosine"] for r in
               D.embedding_cosine_pairs_bucketed(
                   vecs, dim=8, nbits=2, threshold=0.2, block_rows=3).collect()}
    assert blocked == chain


def test_embedding_cosine_pairs(spark):
    vecs = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [1.0, 0.01, 0.0]), (2, [0.0, 1.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    got = {(r["doc_a"], r["doc_b"]) for r in
           embedding_cosine_pairs(vecs, threshold=0.99).collect()}
    assert got == {(0, 1)}


def test_viral_shingle_verify_stage_bounded(spark):
    """One shingle shared by ALL docs must not quadratically inflate
    the verify stage: the candidate pairs are joined to the shingle
    lists BEFORE the shingle-equality join, so the intersect-stage
    row count is exactly |matching (pair, shingle)| ≤ |candidates| ×
    shingles-per-doc — here 3 pairs × ≤13 shingles — while the naive
    inverted-index self-join would stream ~n²/2 = 4950 pairs through
    the viral shingle alone."""
    n = 100
    # every doc contains the viral phrase; each doc adds a unique tail
    rows = [(i, f"the quick brown fox jumps over doc {i} tail {i}") for i in range(n)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cand = spark.createDataFrame(
        [(0, 1), (2, 3), (4, 5)], "doc_a long, doc_b long"
    )
    sh = docs.select(
        "doc_id", F.explode_outer(D.shingles(F.col("text"), 3)).alias("s")
    ).distinct()
    a = sh.select(F.col("doc_id").alias("doc_a"), "s")
    b = sh.select(F.col("doc_id").alias("doc_b"), "s")
    per_doc = sh.groupBy("doc_id").count().agg(F.max("count")).collect()[0][0]

    stage_rows = D._candidate_shingle_matches(a, b, cand).count()
    assert stage_rows <= 3 * per_doc  # bounded by candidates, not n²
    naive_rows = a.join(b, "s").filter(F.col("doc_a") < F.col("doc_b")).count()
    assert naive_rows > n * (n - 1) / 2  # the blowup the order avoids

    # and the final operator output is identical to the exact Jaccard
    # restricted to the candidate pairs
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in D.ngram_jaccard_pairs(docs, threshold=0.0, candidates=cand).collect()
    }
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in D.ngram_jaccard_pairs(docs, threshold=0.0).collect()
        if (r.doc_a, r.doc_b) in {(0, 1), (2, 3), (4, 5)}
    }
    assert got == exact


def test_dedup_clusters_connected_components(spark):
    """Pair chains must collapse into one cluster labeled by the
    canonical (min) member — (a,b),(b,c) → {a,b,c}; separate
    components stay separate; string and numeric ids both work."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),      # chain -> one cluster, label 1
         (10, 11),                     # separate pair -> label 10
         (20, 22), (21, 22)],          # star -> label 20
        "doc_a long, doc_b long",
    )
    got = {r["doc_id"]: r["cluster_id"] for r in D.dedup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10,
                   20: 20, 21: 20, 22: 20}

    spairs = spark.createDataFrame(
        [("url-b", "url-a"), ("url-b", "url-c")], "doc_a string, doc_b string"
    )
    sgot = {r["doc_id"]: r["cluster_id"] for r in D.dedup_clusters(spairs).collect()}
    assert sgot == {"url-a": "url-a", "url-b": "url-a", "url-c": "url-a"}


def test_decontaminate_flags_benchmark_overlap(spark, docs):
    """Docs sharing any n-gram with the benchmark corpus are flagged
    with the shared-distinct-shingle count; clean and too-short docs
    come back contaminated=False with count 0."""
    bench = spark.createDataFrame(
        [(100, "jumps over the lazy dog tonight")], "doc_id long, text string"
    )
    got = {r["doc_id"]: (r["n_contaminated_ngrams"], r["contaminated"])
           for r in D.decontaminate(docs, bench, n=3).collect()}
    # docs 0/1/2 share 'jumps over the', 'over the lazy', 'the lazy dog'
    assert got[0] == (3, True) and got[1] == (3, True) and got[2] == (3, True)
    assert got[3] == (0, False)   # unrelated
    assert got[4] == (0, False)   # too short for shingles -> clean
    assert len(got) == len(DOCS)  # one row per input doc


def test_dedup_clusters_long_chain_pointer_jumping(spark):
    """A 40-doc templated chain (diameter 39) — naive min-label
    propagation needs 39 rounds; the pointer-jumping round halves the
    remaining distance, so 10 rounds must suffice and the whole chain
    collapses to ONE cluster labeled by the minimum id."""
    pairs = spark.createDataFrame(
        [(f"d{i:02d}", f"d{i + 1:02d}") for i in range(39)],
        "doc_a string, doc_b string",
    )
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in D.dedup_clusters(pairs, max_iters=10).collect()
    }
    assert len(got) == 40
    assert set(got.values()) == {"d00"}


def test_dedup_clusters_raises_instead_of_wrong_labels(spark):
    """Exhausting max_iters with labels still moving must RAISE — a
    silently split component would under-dedup with no signal."""
    pairs = spark.createDataFrame(
        [(f"d{i:02d}", f"d{i + 1:02d}") for i in range(8)],
        "doc_a string, doc_b string",
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        D.dedup_clusters(pairs, max_iters=1)


def test_shared_shingle_subtree_parity(docs):
    """The shared distinct-shingle subtree (r6: one explode feeds both
    the LSH candidate and the Jaccard verify chain) must be invisible
    in the results: identical candidate pairs (min over the distinct
    set == min over the multiset; explode_outer's null-shingle doc is
    filtered back out post-agg) and identical verified pairs."""
    sh = D.distinct_shingle_rows(docs, shingle_n=3)
    cand_plain = D.minhash_lsh_pairs(docs, k=16, bands=4, shingle_n=3)
    cand_shared = D.minhash_lsh_pairs(
        docs, k=16, bands=4, shingle_n=3, shingle_rows=sh
    )
    assert {tuple(r) for r in cand_plain.collect()} == {
        tuple(r) for r in cand_shared.collect()
    }
    ver_plain = D.ngram_jaccard_pairs(
        docs, shingle_n=3, threshold=0.3, candidates=cand_plain
    )
    ver_shared = D.ngram_jaccard_pairs(
        docs, shingle_n=3, threshold=0.3, candidates=cand_shared,
        shingle_rows=sh,
    )
    assert {tuple(r) for r in ver_plain.collect()} == {
        tuple(r) for r in ver_shared.collect()
    }
