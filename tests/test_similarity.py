"""Similarity operators (operators/similarity.py): the bucket-local
block matmul must equal the per-pair join formulation it replaced."""

from pyspark.sql import functions as F


def test_lsh_matmul_matches_pairwise_join_form(spark):
    """cosine_near_dup_lsh (bucket-local NumPy block matmul) must emit
    the exact (a_id, b_id, dot) set of the per-pair join formulation it
    replaced — including under bucket skew (near-identical vectors all
    landing in one bucket)."""
    from crawlspark.operators.similarity import (
        _dot,
        _quantized,
        cosine_near_dup_lsh,
        srp_bucket,
    )

    # deterministic vectors: a skewed cluster of near-duplicates plus
    # a spread of unrelated ones
    rows = []
    dim = 16
    for i in range(60):
        if i < 25:  # one hot bucket: tiny perturbations of one vector
            vec = [0.5 + ((i * 7 + j) % 5) * 1e-3 for j in range(dim)]
        else:
            vec = [(((i + 1) * (j + 3)) % 11 - 5) / 7.0 for j in range(dim)]
        rows.append((i, vec))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    new = {tuple(r) for r in cosine_near_dup_lsh(emb, 30, planes=4).collect()}

    # reference: the old bucket-join + per-pair interpreted dot form
    buckets = srp_bucket(emb, 4)
    q = (
        emb.join(buckets, "vec_id")
        .select("vec_id", "bucket", _quantized(F.col("embedding")).alias("q"))
        .withColumn("n2", _dot(F.col("q"), F.col("q")))
    )
    a = q.select(
        "bucket", F.col("vec_id").alias("a_id"), F.col("q").alias("_qa"),
        F.col("n2").alias("_na2"),
    )
    b = q.select(
        "bucket", F.col("vec_id").alias("b_id"), F.col("q").alias("_qb"),
        F.col("n2").alias("_nb2"),
    )
    ref = {
        tuple(r)
        for r in (
            a.join(b, on="bucket")
            .filter(F.col("a_id") < F.col("b_id"))
            .withColumn("dot", _dot(F.col("_qa"), F.col("_qb")))
            .filter(
                (F.col("dot") > 0)
                & (
                    F.col("dot") * F.col("dot") * F.lit(10000)
                    >= F.lit(900) * F.col("_na2") * F.col("_nb2")
                )
            )
            .select("a_id", "b_id", "dot")
            .collect()
        )
    }
    assert new == ref and len(new) > 0
