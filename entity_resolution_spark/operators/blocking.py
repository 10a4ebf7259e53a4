"""Stage 4 — blocking: multi-pass block keys + frequency cap + salting.

Reference parity: the reference blocks on equality of a PII column and
defuses hot keys with `group by key having count(distinct card) <= 10000
and > 1` (reference mlir.py:1178-1181, 2198-2201) — silently dropping
ultra-hot keys. This engine keeps the cap (quadratic-blowup guard) but
ACCOUNTS for dropped keys in a metrics DataFrame, and adds LSH band
keys so recall does not depend on a single exact key.

Scale notes: the (key, id) table is the shuffle currency of the whole
pipeline. Keys are exploded lazily, the frequency filter is one
partial-aggregated groupBy, and the surviving table is repartitioned by
key so the pair self-join is co-located. AQE skew-join covers residual
imbalance below the cap.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from entity_resolution_spark.functions.hashing import lsh_band_keys

DEFAULT_KEY_CAP = 10_000  # reference mlir.py:1180


@dataclass(frozen=True)
class BlockingConfig:
    bands: int = 32
    rows_per_band: int = 2
    key_cap: int = DEFAULT_KEY_CAP
    # domain keys with (salt_threshold, key_cap] members are split into
    # n_salts sub-keys (north_rule: "salted, repartitioned"). Recall
    # inside a salted key drops to in-salt pairs — safe for the domain
    # key, which is redundant with the LSH band keys for any pair
    # similar enough to match; a hot band key may be the ONLY key a
    # true pair shares, so band keys are never salted (round-2
    # advisory). 0 disables.
    salt_threshold: int = 1_000
    n_salts: int = 8
    # 'md5' = oracle-reproducible band keys (raw md5 of the signature
    # slice, hashing.py:lsh_band_keys); 'xxhash64' = production path.
    hash_mode: str = "xxhash64"


def block_keys(features: DataFrame, cfg: BlockingConfig = BlockingConfig()) -> DataFrame:
    """features(url_id, domain, lang, minhash_sig, ...) ->
    blocks(url_id, block_key) — one row per (record, key), deduped:
    the LSH band keys plus one `domain:` key.

    Keys are language-scoped (cross-language pages must not merge,
    FIXTURES.md §1).
    """
    keys = lsh_band_keys(F.col("minhash_sig"), cfg.bands, cfg.rows_per_band, cfg.hash_mode)
    keys = F.array_union(keys, F.array(F.concat(F.lit("domain:"), F.col("domain"))))
    # coalesce: F.concat null-propagates, so a null lang would null
    # EVERY key and silently exclude the record from all candidate
    # generation (stamped a singleton with no warning — round-3
    # review finding). Unknown-language pages share one "und" scope
    # instead; doc_langid can stamp a real code upstream.
    lang = F.coalesce(F.col("lang"), F.lit("und"))
    scoped = F.transform(keys, lambda k: F.concat(lang, F.lit("|"), k))
    return (
        features.select("url_id", F.explode(scoped).alias("block_key"))
        .filter(F.col("block_key").isNotNull() & (F.length("block_key") > 0))
        .dropDuplicates(["url_id", "block_key"])
    )


def cap_key_frequency(
    blocks: DataFrame, cap: int = DEFAULT_KEY_CAP
) -> tuple[DataFrame, DataFrame]:
    """Keep keys with 2..cap members; return (capped_blocks, key_stats).

    key_stats(block_key, n_records, status in {kept, singleton,
    dropped_hot}) makes the recall loss of the cap observable
    (the reference drops >10k keys silently, mlir.py:1180).
    """
    counts = blocks.groupBy("block_key").agg(F.count("url_id").alias("n_records"))
    stats = counts.select(
        "block_key",
        "n_records",
        F.when(F.col("n_records") <= 1, F.lit("singleton"))
        .when(F.col("n_records") > cap, F.lit("dropped_hot"))
        .otherwise(F.lit("kept"))
        .alias("status"),
    )
    kept_keys = stats.filter(F.col("status") == "kept").select("block_key")
    capped = blocks.join(kept_keys, "block_key")  # inner; AQE may broadcast
    return capped, stats


def salt_hot_keys(
    blocks: DataFrame,
    stats: DataFrame,
    salt_threshold: int = 1_000,
    n_salts: int = 8,
    hash_mode: str = "xxhash64",
    only_containing: str | None = None,
) -> DataFrame:
    """Split keys above salt_threshold into n_salts sub-keys by a
    deterministic hash of url_id. Recall within a salted key drops to
    in-salt pairs only — use for keys where approximate recall is
    acceptable (e.g. the domain key, which is redundant with LSH keys).

    only_containing: salt only keys containing this substring (the
    pipeline passes 'domain:' so hot LSH band keys — possibly a pair's
    ONLY shared key — are never salted; round-2 advisory).
    hash_mode='md5' derives the salt from md5 of the url_id so the
    DuckDB oracle can replay salted blocking bit-for-bit (xxhash64
    salts diverge from any ANSI-SQL replay).
    """
    hot = stats.filter((F.col("status") == "kept") & (F.col("n_records") > salt_threshold))
    if only_containing:
        hot = hot.filter(F.col("block_key").contains(only_containing))
    hot = hot.select("block_key", F.lit(True).alias("_hot"))
    if hash_mode == "md5":
        from entity_resolution_spark.functions.hashing import md5_long

        salt_hash = md5_long(F.col("url_id"))
    else:
        salt_hash = F.xxhash64("url_id")
    return (
        blocks.join(F.broadcast(hot), "block_key", "left")
        .withColumn(
            "block_key",
            F.when(
                F.col("_hot"),
                F.concat_ws("#", "block_key", F.pmod(salt_hash, F.lit(n_salts)).cast("string")),
            ).otherwise(F.col("block_key")),
        )
        .drop("_hot")
    )
