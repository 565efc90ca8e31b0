"""Reference code for the embedding near-dup pair chain.

The engine scores embedding near-dups with the fused
``dedup.embedding_cosine_pairs_bucketed`` (one groupBy shuffle and an
exact matmul per LSH bucket). The tests check it row for row against
the candidate chain kept here: LSH candidate pairs from a bucket
self-join, then a pair-at-a-time quantized-exact cosine over the pairs,
or over all pairs without candidates."""

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ais_etl_spark.operators.similarity import lsh_bucket, quantized_cosine_udf


def lsh_candidate_pairs(
    df: DataFrame,
    dim: int,
    nbits: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Distinct (doc_a, doc_b), doc_a < doc_b, of vectors sharing an LSH
    bucket: the corpus bucketed once and self-joined on the bucket."""
    b = lsh_bucket(df, dim, nbits, vec_col).select(F.col(id_col), "bucket")
    a = b.select(F.col(id_col).alias("doc_a"), "bucket")
    c = b.select(F.col(id_col).alias("doc_b"), "bucket")
    return (
        a.join(c, "bucket")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def embedding_cosine_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.9,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Pairs with quantized-exact cosine ≥ ``threshold``. ``candidates``
    (a (doc_a, doc_b) frame) restricts the check to those pairs via two
    joins back to the vectors; without it every pair of a crossJoin is
    scored."""
    v = df.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("v"))
    a = v.select(F.col(id_col).alias("doc_a"), F.col("v").alias("va"))
    b = v.select(F.col(id_col).alias("doc_b"), F.col("v").alias("vb"))
    if candidates is not None:
        pairs = candidates.select("doc_a", "doc_b").join(a, "doc_a").join(b, "doc_b")
    else:
        pairs = a.crossJoin(b).filter(F.col("doc_a") < F.col("doc_b"))
    cos6 = quantized_cosine_udf()
    return (
        pairs.withColumn("cosine", cos6(F.col("va"), F.col("vb")))
        .filter(F.col("cosine") >= threshold)
        .select("doc_a", "doc_b", "cosine")
    )
