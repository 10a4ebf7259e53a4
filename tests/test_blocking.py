"""Blocking: 64-bit block keys, the one key count, frequency cap
accounting and hot-domain salting (north_rule: "salted, repartitioned").
Reference cap semantics: mlir.py:1178-1181."""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from entity_resolution_spark.operators.blocking import (
    DOMAIN_BAND,
    BlockingConfig,
    cap_key_frequency,
    salt_hot_keys,
)
from entity_resolution_spark.operators.pairs import candidate_pairs
from entity_resolution_spark.plans.pipeline import EntityResolutionPipeline, PipelineConfig


def string_block_keys(features, cfg: BlockingConfig):
    """Oracle: the string-key blocking the 64-bit keys replaced — one
    `lang|b{i}:<xxhash64 of the joined slice>` key per band plus
    `lang|domain:<host>`, exploded and deduplicated per (record, key)."""

    def band_key(i):
        joined = F.concat_ws(
            ",",
            F.transform(
                F.slice("minhash_sig", i * cfg.rows_per_band + 1, cfg.rows_per_band),
                lambda x: x.cast("string"),
            ),
        )
        return F.concat_ws(":", F.lit(f"b{i}"), F.xxhash64(joined).cast("string"))

    keys = F.array_union(
        F.array(*[band_key(i) for i in range(cfg.bands)]),
        F.array(F.concat(F.lit("domain:"), F.col("domain"))),
    )
    lang = F.coalesce(F.col("lang"), F.lit("und"))
    scoped = F.transform(keys, lambda k: F.concat(lang, F.lit("|"), k))
    return (
        features.select("url_id", F.explode(scoped).alias("block_key"))
        .filter(F.col("block_key").isNotNull() & (F.length("block_key") > 0))
        .dropDuplicates(["url_id", "block_key"])
    )


def string_block(features, cfg: BlockingConfig):
    """Oracle: string-key cap + salting of hot `domain:` keys by
    pmod(url_id, n_salts) -> (capped blocks, key stats)."""
    capped, stats = cap_key_frequency(string_block_keys(features, cfg), cfg.key_cap)
    hot = stats.filter(
        (F.col("status") == "kept")
        & (F.col("n_records") > cfg.salt_threshold)
        & F.col("block_key").contains("domain:")
    ).select("block_key", F.lit(True).alias("_hot"))
    if cfg.salt_threshold <= 0:
        hot = hot.limit(0)
    salted = capped.join(F.broadcast(hot), "block_key", "left").select(
        "url_id",
        F.when(
            F.col("_hot"),
            F.concat_ws("#", "block_key", F.pmod("url_id", F.lit(cfg.n_salts)).cast("string")),
        )
        .otherwise(F.col("block_key"))
        .alias("block_key"),
    )
    return salted, stats


def _pairs(blocks):
    return {(r["id_1"], r["id_2"]) for r in candidate_pairs(blocks).collect()}


def _status_counts(stats):
    return Counter(r["status"] for r in stats.select("status").collect())


@pytest.fixture(scope="module")
def corpus_feats(spark, corpus):
    pages, _labels, _expected = corpus
    return EntityResolutionPipeline().featurize(pages).localCheckpoint(eager=True)


@pytest.fixture(scope="module")
def odd_feats(spark, corpus):
    """The test corpus with a null lang on a tenth of the pages and one
    url planted twice."""
    pages, _labels, _expected = corpus
    first_url = pages.orderBy("url").first()["url"]
    odd = pages.withColumn(
        "lang", F.when(F.xxhash64("url") % 10 == 0, F.lit(None)).otherwise(F.col("lang"))
    )
    odd = odd.unionByName(odd.filter(F.col("url") == first_url))
    return EntityResolutionPipeline().featurize(odd).localCheckpoint(eager=True)


@pytest.mark.parametrize("feats_name", ["corpus_feats", "odd_feats"])
@pytest.mark.parametrize("salt_threshold", [1_000, 5])
def test_64bit_keys_match_string_keys(spark, request, feats_name, salt_threshold):
    """Candidate pairs and key-stat status counts from the 64-bit keys
    equal those of the string-key blocking, on the test corpus and on a
    corpus with null langs and a repeated url, with and without salting."""
    feats = request.getfixturevalue(feats_name)
    if feats_name == "odd_feats":
        assert feats.filter(F.col("lang").isNull()).count() > 0
        assert feats.count() > feats.select("url_id").distinct().count()
    cfg = BlockingConfig(salt_threshold=salt_threshold, n_salts=4)
    blocks, stats = EntityResolutionPipeline(PipelineConfig(blocking=cfg)).block(feats)
    want_blocks, want_stats = string_block(feats, cfg)
    assert _status_counts(stats) == _status_counts(want_stats)
    assert sorted(r["n_records"] for r in stats.collect()) == sorted(
        r["n_records"] for r in want_stats.collect()
    )
    assert blocks.count() == want_blocks.count()
    got_pairs = _pairs(blocks)
    assert got_pairs == _pairs(want_blocks)
    assert got_pairs


def test_block_keys_shape(spark, corpus_feats):
    """bigint keys, one domain key and one key per band for each record;
    stats identify keys by band index or the domain mark."""
    cfg = BlockingConfig()
    blocks, stats = EntityResolutionPipeline().block(corpus_feats)
    assert dict(blocks.dtypes) == {
        "url_id": "bigint",
        "block_key": "bigint",
        "band": "int",
        "salt": "int",
    }
    assert dict(stats.dtypes)["block_key"] == "bigint"
    bands = {r["band"] for r in stats.select("band").distinct().collect()}
    assert bands == set(range(cfg.bands)) | {DOMAIN_BAND}


def _planted_capped(spark, hot_n=200, cold_n=10, band=DOMAIN_BAND):
    """capped rows (url_id, block_key, band, n_records): one hot key of
    hot_n records and one cold key of cold_n records."""
    rows = [(i, 1, band, hot_n) for i in range(hot_n)] + [
        (10_000 + i, 2, band, cold_n) for i in range(cold_n)
    ]
    return spark.createDataFrame(rows, "url_id long, block_key long, band int, n_records long")


def test_salt_hot_keys_splits_only_hot(spark):
    capped = _planted_capped(spark)
    salted = salt_hot_keys(capped, salt_threshold=50, n_salts=4)

    # every record keeps exactly one key row (salting renames, never drops)
    assert salted.count() == capped.count()
    assert sorted(r["url_id"] for r in salted.collect()) == sorted(
        r["url_id"] for r in capped.collect()
    )
    # cold key untouched
    cold = salted.filter(F.col("url_id") >= 10_000).select("block_key", "salt").distinct().collect()
    assert [(r["block_key"], r["salt"]) for r in cold] == [(2, None)]
    # hot key split into <= n_salts sub-keys, each well below the original
    hot_keys = (
        salted.filter(F.col("url_id") < 10_000)
        .groupBy("block_key")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    assert 2 <= len(hot_keys) <= 4
    assert all(r["block_key"] != 1 for r in hot_keys)
    assert sum(r["n"] for r in hot_keys) == 200
    assert max(r["n"] for r in hot_keys) < 200  # partition-size bound: strictly split

    # off switch: salt_threshold=0 leaves keys untouched
    off = salt_hot_keys(capped, salt_threshold=0, n_salts=4)
    assert off.filter(F.col("salt").isNotNull()).count() == 0
    assert {r["block_key"] for r in off.collect()} == {1, 2}


def test_salt_is_pmod_url_id(spark):
    """The salt equals pmod(url_id, n_salts) row by row (negative hash
    ids included), and the salted key is a function of (key, salt)."""
    rows = [(i * 7_919 - 500_000, 1, DOMAIN_BAND, 100) for i in range(100)]
    capped = spark.createDataFrame(rows, "url_id long, block_key long, band int, n_records long")
    salted = salt_hot_keys(capped, salt_threshold=50, n_salts=4).collect()
    assert len(salted) == 100
    key_of_salt = {}
    for r in salted:
        assert r["salt"] == r["url_id"] % 4  # Python % is pmod for a positive divisor
        key_of_salt.setdefault(r["salt"], r["block_key"])
        assert key_of_salt[r["salt"]] == r["block_key"]
    assert len(key_of_salt) == 4


def test_band_keys_never_salted(spark):
    """A hot LSH band key (possibly a pair's only shared key) keeps its
    key, however many records it has."""
    capped = _planted_capped(spark, band=3)
    salted = salt_hot_keys(capped, salt_threshold=50, n_salts=4)
    assert salted.filter(F.col("salt").isNotNull()).count() == 0
    assert sorted(map(tuple, salted.select("url_id", "block_key").collect())) == sorted(
        map(tuple, capped.select("url_id", "block_key").collect())
    )


def test_salt_hot_keys_deterministic_and_pair_recall(spark):
    capped = _planted_capped(spark)
    salted1 = salt_hot_keys(capped, salt_threshold=50, n_salts=4)
    salted2 = salt_hot_keys(capped, salt_threshold=50, n_salts=4)
    assert sorted(map(tuple, salted1.collect())) == sorted(map(tuple, salted2.collect()))

    # pairs after salting = exactly the within-salt pairs (subset of full)
    full_pairs = _pairs(capped)
    salt_pairs = _pairs(salted1)
    assert salt_pairs < full_pairs
    sizes = [
        r["n"]
        for r in salted1.filter(F.col("url_id") < 10_000)
        .groupBy("block_key")
        .agg(F.count("*").alias("n"))
        .collect()
    ]
    expected_in_salt = sum(n * (n - 1) // 2 for n in sizes)
    hot_salt_pairs = {(a, b) for (a, b) in salt_pairs if a < 10_000}
    assert len(hot_salt_pairs) == expected_in_salt
    # recall within the salted key ~ 1/n_salts of all pairs (binomial slack)
    frac = len(hot_salt_pairs) / (200 * 199 / 2)
    assert 0.15 < frac < 0.40


def test_pipeline_block_applies_salting(spark, corpus_feats):
    """pipeline.block() salts hot domain keys (only) by default for keys
    above salt_threshold, and salted pairs are a subset of unsalted."""
    cfg = PipelineConfig(blocking=BlockingConfig(salt_threshold=5, n_salts=4))
    blocks, stats = EntityResolutionPipeline(cfg).block(corpus_feats)
    salted = blocks.filter(F.col("salt").isNotNull())
    n_hot = stats.filter(
        (F.col("status") == "kept") & (F.col("n_records") > 5) & (F.col("band") == DOMAIN_BAND)
    ).count()
    assert n_hot > 0  # the corpus has domain keys above the tiny threshold
    assert salted.count() > 0  # ...and they came out salted
    assert salted.filter(F.col("band") != DOMAIN_BAND).count() == 0
    assert salted.filter(F.col("salt") != F.pmod("url_id", F.lit(4))).count() == 0

    # off switch: salt_threshold=0 leaves keys untouched
    cfg_off = PipelineConfig(blocking=BlockingConfig(salt_threshold=0))
    blocks_off, _ = EntityResolutionPipeline(cfg_off).block(corpus_feats)
    assert blocks_off.filter(F.col("salt").isNotNull()).count() == 0
    assert blocks_off.count() == blocks.count()  # salting renames, never drops
    assert _pairs(blocks) <= _pairs(blocks_off)
