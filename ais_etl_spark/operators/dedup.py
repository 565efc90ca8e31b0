"""Deduplication operators for web-scale corpus curation.

The reference dedups at object granularity only (version-keyed cache,
/root/reference/transformers/tar2tf/src/cached.go:50-78) and content
hashing is its `md5` transformer
(/root/reference/transformers/md5/fastapi_server.py:22-26). A training
-data pipeline over 100 TB of Common-Crawl text needs the full family:

- :func:`dedup_exact`           — hash-groupBy on a content digest.
- :func:`shingles`              — word n-gram shingling (shared prim).
- :func:`minhash_lsh_pairs`     — MinHash signatures + banded LSH
                                   candidate pairs.
- :func:`ngram_jaccard_pairs`   — exact n-gram Jaccard via an inverted
                                   -index join (verify step after LSH).
- :func:`simhash_signatures`    — 32-bit SimHash per doc.
- :func:`simhash_pairs`         — near-dup pairs by Hamming distance.
- :func:`embedding_cosine_pairs_bucketed` — semantic near-dups over an
                                   embedding column.

**Portability discipline:** every hash that feeds a DuckDB correctness
oracle is derived from ``md5`` (bit-identical across engines); Spark's
``xxhash64`` (seed pinned at 42) is kept for engine-internal
partitioning/salting only.

**Scale notes (100 TB):**

- Exact dedup is one hash-aggregate: map-side partial agg collapses
  per-partition duplicates before the shuffle; the shuffle carries one
  row per distinct digest.
- MinHash/LSH is linear: explode shingles → per-(doc, band) min-agg →
  self-join on band signature. The band join is an equi-join on a
  high-cardinality key — sort-merge with AQE skew split; a viral
  boilerplate page that floods one bucket is exactly the skew AQE
  splits. NEVER materialize the O(n²) similarity matrix; LSH candidates
  + Jaccard verification touch only colliding pairs.
- Embedding near-dup LSH-buckets first (see operators/similarity.py)
  and scores exactly within each bucket.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import pandas_udf

TOKEN_RE = "[a-z0-9]+"


def tokens(col) -> "F.Column":
    """Lowercased word tokens — the shared tokenizer (JVM regex)."""
    return F.regexp_extract_all(F.lower(col), F.lit(TOKEN_RE), 0)


def shingles(col, n: int = 3) -> "F.Column":
    """Word ``n``-gram shingles as space-joined strings.

    Pure built-ins (sequence + transform + element_at ⇒ whole-stage
    codegen); 1-based indices match SQL list semantics so the DuckDB
    oracle is a transliteration.

    The token array is BOUND to a lambda variable (via a one-element
    transform) so the tokenizer regex runs once per row — referencing
    ``tokens(col)`` directly inside the inner lambda re-evaluates the
    regex per element access (no CSE across lambda scopes): measured
    3.3× slower on the sf0.1 corpus.
    """

    def build(t):
        # sequence(1, 0) DESCENDS in Spark — guard short docs to an
        # empty list (DuckDB's generate_series(1, 0) is empty,
        # matching the guarded form)
        idx = F.when(
            F.size(t) >= n, F.sequence(F.lit(1), F.size(t) - (n - 1))
        ).otherwise(F.array().cast("array<int>"))
        parts_of = lambda i: [F.element_at(t, i + j) for j in range(n)]  # noqa: E731
        return F.transform(idx, lambda i: F.concat_ws(" ", *parts_of(i)))

    return F.element_at(F.transform(F.array(tokens(col)), build), 1)


def dedup_exact(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup: md5 content digest → one hash-aggregate.

    Returns (content_md5, n_docs, keep_id) with keep = min id —
    deterministic winner. Map-side combine collapses local dups, so
    the shuffle is one row per (task, distinct digest).
    """
    return (
        df.select(F.md5(F.col(text_col)).alias("content_md5"), F.col(id_col))
        .groupBy("content_md5")
        .agg(
            F.count("*").alias("n_docs"),
            F.min(id_col).alias("keep_id"),
        )
    )


# ---------------------------------------------------------------------------
# MinHash + banded LSH
# ---------------------------------------------------------------------------


def _mh(j, shingle_col):
    """Hash-family member j: md5(j ':' shingle), compared as a string.
    String-min over a uniform 128-bit hex hash is a valid min-hash and —
    unlike xxhash64 seeds — bit-identical in DuckDB."""
    return F.md5(F.concat(j.cast("string"), F.lit(":"), shingle_col))


def distinct_shingle_rows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
) -> DataFrame:
    """DISTINCT (id, shingle) rows — the shared subtree for chains
    that need shingles more than once (LSH candidates + Jaccard
    verify). A min-hash over the distinct set equals the min-hash over
    the multiset (min is idempotent), and exact Jaccard is defined on
    sets — so both stages can consume this ONE exploded+distinct
    subtree and Spark's ReuseExchange materializes it once per job
    instead of exploding the corpus per stage. ``explode_outer`` keeps
    shingle-less docs as a null-shingle row (the Jaccard size agg
    counts them as 0; the signature agg filters them back out)."""
    return df.select(
        F.col(id_col),
        F.explode_outer(shingles(F.col(text_col), shingle_n)).alias("s"),
    ).distinct()


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    shingle_rows: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-dup pairs: band the k-row signature into
    ``bands`` groups, md5 the concatenated band slice, self-join on
    (band, sig). Returns distinct (doc_a, doc_b), doc_a < doc_b.

    Formulation (the 100 TB shape AND the local fast path):
    shingles explode map-side only, all k min-hashes reduce in ONE
    hash-aggregate (JVM md5, map-side combine ⇒ the sole shuffle
    carries one k-column row per doc), and the band signatures are
    built DIRECTLY from the k agg columns (no unpivot, no second
    groupBy) — so the band join input is n_docs × bands rows with
    zero Python in the path.

    ``shingle_rows`` (from :func:`distinct_shingle_rows`): consume a
    shared distinct (id, shingle) subtree instead of exploding here —
    identical signatures (min over the distinct set == min over the
    multiset; docs whose only row is the null shingle are filtered
    back out after the aggregate, matching the inner-explode's
    no-signature behavior), one explode per job when a verify stage
    shares the subtree."""
    rows_per_band = k // bands
    if shingle_rows is not None:
        sh = shingle_rows
    else:
        sh = df.select(
            F.col(id_col),
            F.explode(shingles(F.col(text_col), shingle_n)).alias("s"),
        )
    mins = [
        F.min(_mh(F.lit(j), F.col("s"))).alias(f"_h{j}") for j in range(k)
    ]
    docs = sh.groupBy(id_col).agg(*mins)
    if shingle_rows is not None:
        # explode_outer's null-shingle rows hash to null everywhere;
        # a doc with no real shingle must stay signature-less
        docs = docs.filter(F.col("_h0").isNotNull())
    per_band = F.array(
        *[
            F.md5(
                F.concat_ws(
                    "|",
                    *[F.col(f"_h{b * rows_per_band + j}")
                      for j in range(rows_per_band)],
                )
            )
            for b in range(bands)
        ]
    )
    band = docs.select(F.col(id_col), F.posexplode(per_band).alias("band", "sig"))
    a = band.select(F.col(id_col).alias("doc_a"), "band", "sig")
    b = band.select(F.col(id_col).alias("doc_b"), "band", "sig")
    return (
        a.join(b, ["band", "sig"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard (LSH verify step)
# ---------------------------------------------------------------------------


def _candidate_shingle_matches(
    a: DataFrame, b: DataFrame, candidates: DataFrame
) -> DataFrame:
    """(doc_a, doc_b, s) rows: one per candidate pair per shared
    shingle. Work is bounded by |candidates| × shingles-per-doc
    regardless of how many documents share any single shingle — the
    viral-shingle-proof join order (see test_dedup.py bound test).
    No broadcast hint: the candidate set grows with the corpus; AQE
    still picks broadcast when the actual size is small."""
    cand = candidates.select("doc_a", "doc_b").filter(
        F.col("doc_a") < F.col("doc_b")
    )
    return cand.join(a, "doc_a").join(b, ["doc_b", "s"])


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.5,
    candidates: DataFrame | None = None,
    shingle_rows: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard over distinct n-gram shingles via inverted-index
    join: |A∩B| from a shingle-equality self-join, |A∪B| = |A|+|B|−∩.

    With ``candidates`` (e.g. LSH output) the intersection join is
    restricted to candidate pairs — the 100 TB path. Without it this
    is exact all-pairs-with-shared-shingle (test scale only).
    ``shingle_rows`` (from :func:`distinct_shingle_rows`): share the
    exploded+distinct subtree with the candidate generator so the
    corpus explodes once per job. Returns (doc_a, doc_b, jaccard)
    with jaccard >= threshold.
    """
    sh = shingle_rows if shingle_rows is not None else df.select(
        F.col(id_col), F.explode_outer(shingles(F.col(text_col), shingle_n)).alias("s")
    ).distinct()
    sizes = sh.groupBy(id_col).agg(F.count("s").alias("n_sh"))

    a = sh.select(F.col(id_col).alias("doc_a"), "s")
    b = sh.select(F.col(id_col).alias("doc_b"), "s")
    if candidates is not None:
        # Restrict to candidate pairs BEFORE any shingle-equality join:
        # candidates ⋈ shingles(doc_a) ⋈ shingles(doc_b) on (doc_b, s)
        # bounds the intersect stage to |candidates| × shingles-per-doc.
        # The naive order (inverted-index self-join first, semi-join
        # after) re-opens the n² blowup the LSH chain exists to kill —
        # one viral boilerplate shingle shared by 10^6 docs would
        # stream ~5·10^11 pairs through the late filter, since Catalyst
        # does not push a pair-level semi-join inside the equi-join.
        inter = _candidate_shingle_matches(a, b, candidates)
    else:
        # exact all-pairs-with-shared-shingle — test scale only
        inter = a.join(b, "s").filter(F.col("doc_a") < F.col("doc_b"))
    inter = inter.groupBy("doc_a", "doc_b").agg(F.count("*").alias("n_inter"))

    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")), 6
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash32(text: str | None) -> int | None:
    """Scalar reference: 32-bit SimHash over word tokens, md5-derived
    per-token hash (first 8 hex chars). Deterministic, engine-portable."""
    import re

    if text is None:
        return None
    toks = re.findall(TOKEN_RE, text.lower())
    if not toks:
        return 0
    acc = [0] * 32
    for t in toks:
        h = int(hashlib.md5(t.encode()).hexdigest()[:8], 16)
        for b in range(32):
            acc[b] += 1 if (h >> b) & 1 else -1
    out = 0
    for b in range(32):
        if acc[b] > 0:
            out |= 1 << b
    return out


def simhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, simhash) — built-in-only formulation: explode tokens ×
    32 bit positions, sum ±1 votes, recompose bits. Matches
    :func:`simhash32` bit-for-bit and transliterates to the SQL oracle.

    Scale: per-doc token explode then ONE hash-agg keyed (id, bit);
    at 100 TB the pandas-UDF form (simhash32 over Arrow batches) cuts
    the 32× row blowup — both kept, parity-tested.
    """
    tok = df.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("t"))
    # token hash: first 8 md5 hex chars → uint32
    h = F.conv(F.substring(F.md5(F.col("t")), 1, 8), 16, 10).cast("long")
    bits = df.sparkSession.range(0, 32).select(F.col("id").cast("int").alias("b"))
    votes = (
        tok.withColumn("h", h)
        .crossJoin(F.broadcast(bits))
        .withColumn(
            "vote",
            F.when(
                (F.floor(F.col("h") / F.pow(F.lit(2.0), F.col("b"))).cast("long") % 2) == 1,
                F.lit(1),
            ).otherwise(F.lit(-1)),
        )
        .groupBy(id_col, "b")
        .agg(F.sum("vote").alias("v"))
    )
    return (
        votes.groupBy(id_col)
        .agg(
            F.sum(
                F.when(F.col("v") > 0, F.pow(F.lit(2.0), F.col("b")).cast("long"))
                .otherwise(F.lit(0))
            ).alias("simhash")
        )
    )


def simhash_udf():
    """Arrow-batched SimHash (the scale path). Two batch-level
    optimizations over the scalar reference (bit-identical, parity
    tested): token→hash results are memoized across the batch (web
    text is Zipf — most tokens repeat), and the 32-bit ±1 voting is a
    vectorized numpy reduction instead of a per-token Python loop."""
    import re

    import numpy as np

    tok_re = re.compile(TOKEN_RE)
    bit_idx = np.arange(32, dtype=np.uint32)

    def sh_one(text: str | None, memo: dict) -> int | None:
        if text is None:
            return None
        toks = tok_re.findall(text.lower())
        if not toks:
            return 0
        hs = np.empty(len(toks), dtype=np.uint32)
        for i, t in enumerate(toks):
            h = memo.get(t)
            if h is None:
                h = int(hashlib.md5(t.encode()).hexdigest()[:8], 16)
                memo[t] = h
            hs[i] = h
        bits = (hs[:, None] >> bit_idx) & 1          # (n_tokens, 32)
        votes = 2 * bits.sum(axis=0, dtype=np.int64) - len(toks)
        return int(((votes > 0).astype(np.uint64) << bit_idx.astype(np.uint64)).sum())

    @pandas_udf("long")
    def sh(text: pd.Series) -> pd.Series:
        memo: dict = {}
        return text.map(lambda t: sh_one(t, memo))

    return sh


def simhash_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    blocked: bool = True,
) -> DataFrame:
    """Near-dup pairs by Hamming distance over 32-bit signatures.

    ``blocked=True`` (the default and the 100 TB path) is the exact
    pigeonhole scheme: split the signature into ``max_hamming + 1``
    equal bit blocks — a pair within Hamming ``max_hamming`` differs in
    at most ``max_hamming`` blocks, so it MUST agree exactly on at
    least one block. Candidates come from a shuffle equi-join on
    (block_idx, block_value); the final bit_count filter makes the
    result identical to all-pairs (lossless blocking — parity-tested).

    ``blocked=False`` keeps the O(n²) crossJoin form for the parity
    test only.
    """
    a = sigs.select(F.col(id_col).alias("doc_a"), F.col("simhash").alias("ha"))
    b = sigs.select(F.col(id_col).alias("doc_b"), F.col("simhash").alias("hb"))
    if blocked:
        nblocks = max_hamming + 1
        # uneven coverage is safe: bits outside any block only make the
        # candidate set a superset (blocks can't see them disagree), and
        # the final exact bit_count filter removes false candidates.
        bits = max(32 // nblocks, 1)
        mask = (1 << bits) - 1

        def blocks(df: DataFrame, idc: str, sigc: str) -> DataFrame:
            blk = F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("blk"),
                            F.shiftright(F.col(sigc), i * bits)
                            .bitwiseAND(F.lit(mask))
                            .alias("blk_val"),
                        )
                        for i in range(nblocks)
                    ]
                )
            ).alias("b")
            return df.select(F.col(idc), F.col(sigc), blk).select(
                idc, sigc, "b.blk", "b.blk_val"
            )

        # bit_count filter BEFORE the distinct (guide §2.3: shuffle fewer
        # bytes): the candidate stream is ~n²/(blocks·2^bits) rows and the
        # old shape shuffled ALL of them through the distinct before the
        # cheap Hamming test — at 50k docs that is ~39M rows deduped to
        # keep ~10³ (measured 92s → the dominant cost of this operator).
        # Filtering first is exactly equivalent: the filter is a
        # deterministic function of columns of the distinct key, so
        # distinct∘filter == filter∘distinct row-for-row.
        cand = (
            blocks(a, "doc_a", "ha")
            .join(blocks(b, "doc_b", "hb"), ["blk", "blk_val"])
            .filter(F.col("doc_a") < F.col("doc_b"))
            .withColumn(
                "hamming", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
            )
            .filter(F.col("hamming") <= max_hamming)
            .select("doc_a", "ha", "doc_b", "hb", "hamming")
            .distinct()
        )
        return cand.select("doc_a", "doc_b", "hamming")
    else:
        cand = a.crossJoin(b).filter(F.col("doc_a") < F.col("doc_b"))
    return (
        cand.withColumn("hamming", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup
# ---------------------------------------------------------------------------


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination — the curation step that keeps
    evaluation data out of the training set: flag every training doc
    sharing at least one word ``n``-gram with the benchmark corpus
    (the standard 13-gram overlap rule from public LM data reports;
    smaller ``n`` for short-document corpora).

    Plan: distinct doc shingles ⋈ distinct benchmark shingles on the
    shingle string — a plain equi-join. The benchmark side is tiny by
    nature (eval sets are MBs against a 100 TB training corpus), so
    AQE broadcasts it from runtime stats; no forced hint, so a huge
    blocklist degrades to a shuffle join instead of an OOM. Returns
    one row per doc: (id, n_contaminated_ngrams, contaminated) —
    docs shorter than ``n`` tokens have no shingles and are clean by
    definition."""
    d_sh = docs.select(
        F.col(id_col), F.explode(shingles(F.col(text_col), n)).alias("s")
    ).distinct()
    b_sh = benchmark.select(
        F.explode(shingles(F.col(text_col), n)).alias("s")
    ).distinct()
    hits = (
        d_sh.join(b_sh, "s")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_contaminated_ngrams"))
    )
    return (
        docs.select(F.col(id_col))
        .join(hits, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_contaminated_ngrams"), F.lit(0)).cast(
                "bigint"
            ).alias("n_contaminated_ngrams"),
            (F.coalesce(F.col("n_contaminated_ngrams"), F.lit(0)) > 0).alias(
                "contaminated"
            ),
        )
    )


def dedup_clusters(pairs: DataFrame, max_iters: int = 25) -> DataFrame:
    """Resolve verified near-dup PAIRS into duplicate CLUSTERS —
    connected components with the canonical member as the label. This
    is the step a curation pipeline needs after pair detection: "keep
    one doc per duplicate group" requires the GROUPS, not the pairs
    (pairs (a,b),(b,c) must collapse to one cluster {a,b,c}).

    Algorithm: iterative min-label propagation over the symmetrized
    edge set — every node starts labeled with itself; each round takes
    the min of its own and its neighbors' labels; fixpoint = each node
    carries the minimum id of its component (the deterministic
    canonical doc). Each round ALSO pointer-jumps (label := label of
    one's label — path compression), so rounds needed are
    O(log diameter), not O(diameter): a 1000-doc templated chain
    converges in ~10 rounds instead of 999. Near-dup clusters are
    dense clique-ish groups straight from the pair-verify stage
    (diameter 1-2); ``max_iters`` bounds pathological inputs, and
    exhausting it RAISES rather than returning silently-wrong labels
    (a split component would under-dedup with no signal). Each round
    is one edges⋈labels shuffle join + one map-side-combined min-agg
    + one labels⋈labels compression join, with the new labels
    ``localCheckpoint``-ed — persist alone caches DATA but the logical
    plan still nests every prior round and Catalyst re-analysis blows
    up the driver after ~8 self-referencing iterations (measured: OOM
    on a 6-hop chain); the checkpoint truncates lineage so each
    round's plan is constant-size. Works for string and numeric ids
    (min = lexicographic / numeric respectively — same rule the SQL
    oracle's recursive CTE applies).

    Input: (doc_a, doc_b) rows. Output: (doc_id, cluster_id) for every
    doc appearing in a pair; docs with no pair are singletons by
    definition and are not emitted (left-join + coalesce(id) at the
    call site to label them)."""
    edges = pairs.select(F.col("doc_a").alias("_a"), F.col("doc_b").alias("_b"))
    sym = (
        edges.unionByName(
            edges.select(F.col("_b").alias("_a"), F.col("_a").alias("_b"))
        )
        .distinct()
        .persist()
    )
    labels = (
        sym.select(F.col("_a").alias("doc_id"))
        .distinct()
        .withColumn("cluster_id", F.col("doc_id"))
        .localCheckpoint(eager=True)
    )
    try:
        for _ in range(max_iters):
            nbr = (
                sym.join(labels, sym["_b"] == labels["doc_id"])
                .groupBy("_a")
                .agg(F.min("cluster_id").alias("_nmin"))
            )
            propagated = labels.join(
                nbr, labels["doc_id"] == nbr["_a"], "left"
            ).select(
                F.col("doc_id"),
                F.least(
                    F.col("cluster_id"),
                    F.coalesce(F.col("_nmin"), F.col("cluster_id")),
                ).alias("cluster_id"),
            )
            # pointer jumping: label := min(label, label(label)).
            # cluster_id is always some node's doc_id, so the self-join
            # compresses 2-hop chains every round → O(log diameter).
            new_labels = (
                propagated.alias("l")
                .join(
                    propagated.select(
                        F.col("doc_id").alias("_cid"),
                        F.col("cluster_id").alias("_cmin"),
                    ),
                    F.col("l.cluster_id") == F.col("_cid"),
                    "left",
                )
                .select(
                    F.col("l.doc_id").alias("doc_id"),
                    F.least(
                        F.col("l.cluster_id"),
                        F.coalesce(F.col("_cmin"), F.col("l.cluster_id")),
                    ).alias("cluster_id"),
                )
                .localCheckpoint(eager=True)
            )
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "doc_id")
                .filter(F.col("n.cluster_id") != F.col("o.cluster_id"))
                .count()
            )
            labels = new_labels
            if changed == 0:
                return labels
        raise RuntimeError(
            f"dedup_clusters did not converge in {max_iters} rounds "
            f"({changed} labels still changing) — component diameter "
            f"exceeds 2^{max_iters}; raise max_iters"
        )
    finally:
        sym.unpersist()


def embedding_cosine_pairs_bucketed(
    df: DataFrame,
    dim: int,
    nbits: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.9,
    block_rows: int = 4096,
) -> DataFrame:
    """Fused LSH-bucket + exact-cosine near-dup pairs: ONE shuffle (the
    groupBy on the bucket key) and one exact matmul per bucket, instead
    of the candidate-pair chain (bucket self-join → distinct over
    ~n²/2^nbits pair rows → two joins re-attaching the 64-dim vectors →
    pair-at-a-time Arrow cosine, which the filter-pushdown duplication
    ran TWICE — guide §4.4/§8: never shuffle wide payloads per pair
    when the decision needs only in-bucket geometry).

    Output is row-identical to that candidate chain (reference code in
    ``tests/pair_chain.py``, parity-tested): the scoring is the same
    quantized-exact arithmetic — 6-dp int64 components whose
    dots/norms stay < 2^53, so the float64 BLAS matmul is EXACT
    integer arithmetic (every product
    ≤ dim·(1e6)² and every partial sum is an exactly-representable
    integer), then the identical IEEE division and 6-dp floor-round.
    Pairs are oriented doc_a < doc_b by sorting each bucket by id.
    Row-blocked Gram computation bounds per-task memory at
    O(block·bucket) instead of O(bucket²)."""
    from ais_etl_spark.operators.similarity import (
        _quantize,
        _round6_np,
        lsh_bucket,
    )

    # bucket bits stay on the JVM fold-left projection (the documented
    # reference arithmetic the oracle transliterates). A numpy twin of
    # the projection inside the Python pass was tried and measured
    # SLOWER (1.8s vs 0.8s per pass at 20k×64): the extra Arrow
    # round-trip of the vector column outweighs the interpreted-lambda
    # saving at nbits=4.
    id_sql_type = dict(df.dtypes)[id_col]
    b = lsh_bucket(df, dim, nbits, vec_col).select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).cast("array<double>").alias("_v"),
        "bucket",
    )

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values("_id", kind="mergesort")
        ids = pdf["_id"].to_numpy()
        n = len(ids)
        if n < 2:
            return pd.DataFrame(
                {"doc_a": ids[:0], "doc_b": ids[:0],
                 "cosine": np.zeros(0, dtype=np.float64)}
            )
        Q = _quantize(np.stack(pdf["_v"].to_numpy()).astype(np.float64)).astype(
            np.float64
        )
        nrm = np.sqrt(np.einsum("ij,ij->i", Q, Q))
        out_a, out_b, out_c = [], [], []
        for i0 in range(0, n - 1, block_rows):
            i1 = min(i0 + block_rows, n)
            cos = _round6_np((Q[i0:i1] @ Q.T) / np.outer(nrm[i0:i1], nrm))
            # strict upper triangle relative to the full matrix: column
            # index > row index ⇒ sorted ids give doc_a < doc_b; equal
            # ids (pathological dup keys) sort adjacent and are excluded
            # by the strict id comparison, matching the a.id < b.id rule
            ri, ci = np.nonzero(cos >= threshold)
            keep = (ci > ri + i0) & (ids[ri + i0] != ids[ci])
            ri, ci = ri[keep], ci[keep]
            if ri.size:
                out_a.append(ids[ri + i0])
                out_b.append(ids[ci])
                out_c.append(cos[ri, ci])
        if not out_a:
            return pd.DataFrame(
                {"doc_a": ids[:0], "doc_b": ids[:0],
                 "cosine": np.zeros(0, dtype=np.float64)}
            )
        return pd.DataFrame(
            {
                "doc_a": np.concatenate(out_a),
                "doc_b": np.concatenate(out_b),
                "cosine": np.concatenate(out_c),
            }
        )

    return b.groupBy("bucket").applyInPandas(
        score, f"doc_a {id_sql_type}, doc_b {id_sql_type}, cosine double"
    )

