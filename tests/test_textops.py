"""Text operators (operators/textops.py): rewritten internals must
equal the formulation they replaced on adversarial inputs (the oracle
tests cover the fixture corpus; these cover the edge shapes)."""

from pyspark.sql import functions as F


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


EDGE_TEXTS = [
    "",  # no shingles
    "one",  # < n words
    "one two",  # still < n
    "a b c",  # exactly one shingle
    "a b c d e f g",  # normal
    "x x x x x x",  # repeated shingles (multiset vs set)
    "Ünï çôdé ÛNÏ ÇÔDÉ mixed Case words here",  # unicode + case
    "a  b   c d",  # empty tokens from repeated spaces
    " leading and trailing ",  # boundary tokens
    "z y x w v u t s r q p o n m l k j i h g f e d c b a",
]


def test_minhash_array_form_matches_explode_groupby(spark):
    """minhash_signatures (per-row array_min fold) must be row-identical
    to the explode+groupBy(min) formulation it replaced."""
    from crawlspark.operators.textops import _shingles, minhash_signatures

    docs = _docs(spark, EDGE_TEXTS * 3)
    new = minhash_signatures(docs)

    sh = docs.select(
        "doc_id", F.explode(_shingles("text", 3)).alias("shingle")
    )
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{k}|"), F.col("shingle")))).alias(f"sig_{k}")
        for k in range(4)
    ]
    ref = sh.groupBy("doc_id").agg(*aggs)

    got = {tuple(r) for r in new.collect()}
    want = {tuple(r) for r in ref.collect()}
    assert got == want
