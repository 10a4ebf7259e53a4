"""MinHash/SimHash/shingle determinism + accuracy (SURVEY.md §5.1)."""

import numpy as np
from pyspark.sql import functions as F

from entity_resolution_spark.functions.hashing import (
    lsh_band_keys,
    minhash_signature,
    shingles,
    simhash64,
    simhash_hamming,
)


def _toy(spark):
    data = [
        (1, "the quick brown fox jumps over the lazy dog and runs away fast".split()),
        (2, "the quick brown fox jumps over the lazy cat and runs away fast".split()),
        (3, "completely different words nothing shared here at all today ever".split()),
    ]
    return spark.createDataFrame(data, "id long, toks array<string>")


def test_minhash_deterministic_across_partitionings(spark):
    df = _toy(spark).withColumn("sh", shingles(F.col("toks"), 3))
    a = minhash_signature(df.repartition(1), "id", "sh").select("id", "minhash_sig")
    b = minhash_signature(df.repartition(7), "id", "sh").select("id", "minhash_sig")
    assert sorted(a.collect()) == sorted(b.collect())


def test_minhash_estimates_jaccard(spark):
    df = _toy(spark).withColumn("sh", shingles(F.col("toks"), 3))
    sigs = {r["id"]: r["minhash_sig"] for r in minhash_signature(df, "id", "sh", num_perm=128).collect()}
    shs = {r["id"]: set(r["sh"]) for r in df.collect()}
    true_j = len(shs[1] & shs[2]) / len(shs[1] | shs[2])
    est = np.mean([a == b for a, b in zip(sigs[1], sigs[2])])
    assert abs(est - true_j) < 0.15
    est_far = np.mean([a == b for a, b in zip(sigs[1], sigs[3])])
    assert est_far < 0.1


def test_lsh_band_keys_shape(spark):
    df = _toy(spark).withColumn("sh", shingles(F.col("toks"), 3))
    sig = minhash_signature(df, "id", "sh", num_perm=64)
    keys = sig.select(lsh_band_keys(F.col("minhash_sig"), 32, 2).alias("k"))
    assert keys.dtypes == [("k", "array<bigint>")]
    assert all(len(r["k"]) == 32 for r in keys.collect())


def test_similar_docs_share_band_key(spark):
    df = _toy(spark).withColumn("sh", shingles(F.col("toks"), 3))
    sig = minhash_signature(df, "id", "sh", num_perm=64)
    rows = {
        r["id"]: set(r["k"])
        for r in sig.select("id", lsh_band_keys(F.col("minhash_sig"), 32, 2).alias("k")).collect()
    }
    assert rows[1] & rows[2], "near-duplicates must share at least one band key"
    assert not (rows[1] & rows[3]), "unrelated docs should not collide"


def test_simhash_near_dup_small_hamming(spark):
    df = _toy(spark)
    sh = simhash64(df, "id", "toks")
    vals = {r["id"]: r["simhash"] for r in sh.collect()}
    two = spark.createDataFrame(
        [(vals[1], vals[2]), (vals[1], vals[3])], "a long, b long"
    ).select(simhash_hamming(F.col("a"), F.col("b")).alias("d")).collect()
    d_near, d_far = two[0]["d"], two[1]["d"]
    assert d_near < d_far
    assert d_near <= 16


def test_shingles_short_doc_fallback(spark):
    df = spark.createDataFrame([(1, ["one", "two"])], "id long, toks array<string>")
    out = df.select(F.size(shingles(F.col("toks"), 3)).alias("n")).first()
    assert out["n"] == 1
