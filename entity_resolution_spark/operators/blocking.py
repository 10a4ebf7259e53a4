"""Stage 4 — blocking: multi-pass block keys + frequency cap + salting.

Reference parity: the reference blocks on equality of a PII column and
defuses hot keys with `group by key having count(distinct card) <= 10000
and > 1` (reference mlir.py:1178-1181, 2198-2201) — silently dropping
ultra-hot keys. This engine keeps the cap (quadratic-blowup guard) but
ACCOUNTS for dropped keys in a metrics DataFrame, and adds LSH band
keys so recall does not depend on a single exact key.

Keys: every block key is one 64-bit xxhash64. A band key hashes (lang
scope, band index, band slice); the domain key hashes (lang scope,
domain). The ``band`` column says which key a row holds: the band
index, or ``DOMAIN_BAND`` for the domain key. A key only decides which
rows are equal and is never an output value, so the md5 oracle mode
needs no md5 keys: the DuckDB replay keys on strings and partitions the
rows into the same keys.

Scale notes: the (key, id) table is the shuffle currency of the whole
pipeline, at 8 bytes a key. A record's keys are distinct by
construction, so the table needs no dedup shuffle unless the input
repeats a url. One partial-aggregated groupBy counts the keys once per
run: the cap, the salt and the key stats all read that count. AQE
skew-join covers residual imbalance below the cap.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from entity_resolution_spark.functions.hashing import lsh_band_keys

DEFAULT_KEY_CAP = 10_000  # reference mlir.py:1180
DOMAIN_BAND = -1  # `band` of the domain key; band keys carry their band index


@dataclass(frozen=True)
class BlockingConfig:
    """LSH banding (bands x rows_per_band signature slices), the hot-key
    cap, and salting of hot domain keys. Block keys are 64-bit hashes
    in every hash mode (see the module docstring)."""

    bands: int = 32
    rows_per_band: int = 2
    key_cap: int = DEFAULT_KEY_CAP
    # domain keys with (salt_threshold, key_cap] members are split into
    # n_salts sub-keys by pmod(url_id, n_salts) (north_rule: "salted,
    # repartitioned"). Recall inside a salted key drops to in-salt
    # pairs — safe for the domain key, which is redundant with the LSH
    # band keys for any pair similar enough to match; a hot band key
    # may be the ONLY key a true pair shares, so band keys are never
    # salted (round-2 advisory). 0 disables.
    salt_threshold: int = 1_000
    n_salts: int = 8


def block_keys(features: DataFrame, cfg: BlockingConfig = BlockingConfig()) -> DataFrame:
    """features(url_id, domain, lang, minhash_sig, ...) ->
    blocks(url_id, block_key bigint, band int) — one row per (record,
    key): the LSH band keys plus one domain key (none for a null
    domain).

    Keys are language-scoped (cross-language pages must not merge,
    FIXTURES.md §1). Rows are distinct by construction unless a url
    appears more than once in ``features``; only then are they
    deduplicated, which a small url_id aggregation decides up front.
    """
    # coalesce: a null lang must not drop the record from every key
    # (stamped a singleton with no warning — round-3 review finding).
    # Unknown-language pages share one "und" scope instead; doc_langid
    # can stamp a real code upstream.
    lang = F.coalesce(F.col("lang"), F.lit("und"))
    domain_key = F.when(F.col("domain").isNotNull(), F.xxhash64(lang, F.col("domain")))
    keys = F.concat(
        lsh_band_keys(F.col("minhash_sig"), cfg.bands, cfg.rows_per_band, scope=lang),
        F.array(domain_key),
    )
    blocks = (
        features.select("url_id", F.posexplode(keys).alias("band", "block_key"))
        .filter(F.col("block_key").isNotNull())
        .select(
            "url_id",
            "block_key",
            F.when(F.col("band") < cfg.bands, F.col("band"))
            .otherwise(F.lit(DOMAIN_BAND))
            .alias("band"),
        )
    )
    if not features.groupBy("url_id").count().filter(F.col("count") > 1).isEmpty():
        blocks = blocks.dropDuplicates(["url_id", "block_key"])
    return blocks


def _status(n_records: Column, cap: int) -> Column:
    return (
        F.when(n_records <= 1, F.lit("singleton"))
        .when(n_records > cap, F.lit("dropped_hot"))
        .otherwise(F.lit("kept"))
        .alias("status")
    )


def key_stats(blocks: DataFrame, cap: int = DEFAULT_KEY_CAP) -> DataFrame:
    """blocks(url_id, block_key, band) -> key_stats(block_key, band,
    n_records, status in {kept, singleton, dropped_hot}): the pipeline's
    one key count. A groupBy, not a window: the count partial-aggregates
    map-side, so a hot key never lands in one counting task (round-4
    de-skew). Keys are identified by band index or the domain mark, not
    by readable text."""
    counts = blocks.groupBy("block_key", "band").agg(F.count("url_id").alias("n_records"))
    return counts.select("block_key", "band", "n_records", _status(F.col("n_records"), cap))


def cap_key_frequency(
    blocks: DataFrame, cap: int = DEFAULT_KEY_CAP
) -> tuple[DataFrame, DataFrame]:
    """Keep keys with 2..cap members; return (capped_blocks, key_stats).

    key_stats(block_key, n_records, status in {kept, singleton,
    dropped_hot}) makes the recall loss of the cap observable
    (the reference drops >10k keys silently, mlir.py:1180).
    """
    counts = blocks.groupBy("block_key").agg(F.count("url_id").alias("n_records"))
    stats = counts.select("block_key", "n_records", _status(F.col("n_records"), cap))
    kept_keys = stats.filter(F.col("status") == "kept").select("block_key")
    capped = blocks.join(kept_keys, "block_key")  # inner; AQE may broadcast
    return capped, stats


def salt_hot_keys(capped: DataFrame, salt_threshold: int = 1_000, n_salts: int = 8) -> DataFrame:
    """capped(url_id, block_key, band, n_records) -> (url_id, block_key,
    band, salt): split domain keys with more than salt_threshold records
    into n_salts sub-keys, salt = pmod(url_id, n_salts) (url_id is
    already a hash of the url in both hash modes; a DuckDB replay takes
    id % n_salts). A salted row's block_key is xxhash64(key, salt); salt
    is null on every other row. Recall within a salted key drops to
    in-salt pairs only, so band keys — possibly a pair's ONLY shared key
    — are never salted (round-2 advisory). salt_threshold 0 disables.
    """
    hot = (F.col("band") == DOMAIN_BAND) & (F.col("n_records") > salt_threshold)
    if salt_threshold <= 0:
        hot = F.lit(False)
    salt = F.when(hot, F.pmod(F.col("url_id"), F.lit(n_salts)).cast("int"))
    return capped.select(
        "url_id",
        F.when(hot, F.xxhash64("block_key", salt)).otherwise(F.col("block_key")).alias("block_key"),
        "band",
        salt.alias("salt"),
    )
