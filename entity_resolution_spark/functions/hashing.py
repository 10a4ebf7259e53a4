"""Hashing & sketches: shingles, MinHash, LSH band keys, SimHash,
stable entity ids.

All JVM-native (xxhash64 + integer arithmetic inside whole-stage
codegen) — no Python in the hot path. Signatures are deterministic
functions of content, independent of partitioning/row order.

Reference parity: replaces get_hash_15 (reference mlir.py:218-220,
sha1 mod 1e15 in a per-row UDF) and blake2b entity hashes
(mlir.py:1938-1943) with xxhash64 / sha2.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Mersenne prime 2^31-1: keeps a*h+b within signed-64 range even under
# ANSI arithmetic (Spark 4 default), since a,b,h' < 2^31.
MERSENNE_P = (1 << 31) - 1


def shingles(tokens: Column, k: int = 3, hashed: bool = True) -> Column:
    """Distinct k-token shingles from a token array.

    hashed=True (default): xxhash64'd to array<bigint> so downstream
    set ops compare longs, not strings — ~8 bytes/shingle instead of
    ~30. hashed=False: the raw joined strings (array<string>) — the
    oracle-reproducible mode (DuckDB can rebuild the same strings)."""
    n = F.size(tokens)
    idx = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(0)))
    if hashed:
        sh = F.transform(idx, lambda i: F.xxhash64(F.concat_ws(" ", F.slice(tokens, i, k))))
        whole = F.array(F.xxhash64(F.concat_ws(" ", tokens)))
    else:
        sh = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(tokens, i, k)))
        whole = F.array(F.concat_ws(" ", tokens))
    # pages shorter than k tokens: fall back to the whole text
    return F.array_distinct(F.when(n >= k, sh).otherwise(whole))


def md5_long(col: Column) -> Column:
    """Deterministic positive 60-bit integer from a value's md5 hex —
    the oracle-reproducible element hash (DuckDB:
    ('0x' || substr(md5(x), 1, 15))::BIGINT). Slower than xxhash64
    (md5 + base conversion) — use only in hash_mode='md5' runs."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 15), 16, 10).cast("long")


def _perm_coeffs(num_perm: int, seed: int) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [(rng.randrange(1, MERSENNE_P), rng.randrange(0, MERSENNE_P)) for _ in range(num_perm)]


def minhash_signature(
    df: DataFrame,
    id_col: str,
    set_col: str,
    num_perm: int = 64,
    seed: int = 1729,
    out_col: str = "minhash_sig",
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Append a MinHash signature (array<bigint>, length num_perm) of
    the element-set column ``set_col`` (array of longs or strings).

    Plan shape: PURE map-side column algebra — element hashes via one
    array transform, then num_perm array_min folds over the hashed
    array. ZERO shuffles and zero joins (round 1 used explode ->
    groupBy(num_perm mins) -> join-back: one full shuffle of
    |docs| x |shingles| rows plus a self-join, for identical values —
    at 10^12 documents that shuffle IS the cost of the feature stage).
    Empty/missing sets get a sentinel signature of MERSENNE_P values.

    hash_mode='md5' swaps the element hash for md5_long — slower, but
    bit-reproducible in ANSI SQL, so the SHIPPING operator can be
    value-checked against a DuckDB oracle (CORRECTNESS gate), not just
    a rows-only count. Permutation coefficients are seed-derived
    literals either way.
    """
    coeffs = _perm_coeffs(num_perm, seed)

    def el_hash(x: Column) -> Column:
        return md5_long(x) if hash_mode == "md5" else F.xxhash64(x)

    hashed = df.withColumn(
        "_mh_hs", F.transform(F.col(set_col), lambda x: F.pmod(el_hash(x), F.lit(MERSENNE_P)))
    )
    sig = F.array(
        *[
            F.coalesce(
                F.array_min(
                    F.transform(F.col("_mh_hs"), lambda h: F.pmod(h * a + b, F.lit(MERSENNE_P)))
                ),
                F.lit(MERSENNE_P).cast("long"),
            )
            for a, b in coeffs
        ]
    )
    return hashed.withColumn(out_col, sig).drop("_mh_hs")


def lsh_band_keys(sig: Column, bands: int, rows: int, scope: Column | None = None) -> Column:
    """LSH band keys (array<bigint>) from a MinHash signature: one key
    per band = xxhash64(scope, band index, that band's slice). Two sets
    share a key iff they share the scope and a full band of MinHash
    components agrees — P(candidate) = 1-(1-J^rows)^bands.

    A key only decides which rows are equal and is never an output
    value, so one native hash serves every hash mode: an oracle replay
    may key on any injective rendering of (scope, band, slice), such as
    a string, and partitions rows into the same keys."""
    prefix = [] if scope is None else [scope]
    return F.array(
        *[F.xxhash64(*prefix, F.lit(i), F.slice(sig, i * rows + 1, rows)) for i in range(bands)]
    )


def simhash_bits(hash_mode: str = "xxhash64") -> int:
    """SimHash width per hash mode: 64 for xxhash64; 60 for the
    oracle-reproducible md5 mode (15 hex chars = 60 bits keeps every
    intermediate positive and in ANSI-SQL BIGINT range)."""
    return 60 if hash_mode == "md5" else 64


def simhash64(
    df: DataFrame,
    id_col: str,
    set_col: str,
    out_col: str = "simhash",
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Append a SimHash (64-bit; 60-bit in hash_mode='md5') of the
    element array ``set_col``.

    PURE map-side column algebra (no shuffle, no join — round 1 used
    explode -> groupBy -> join-back for identical values): element
    hashes via one array transform, then per bit i the +1/-1 majority
    is `2 * count(bit set) > n` via a size(filter(...)) fold; bit
    assembly with shiftleft/bitwise-or (no overflow under ANSI).
    Empty sets hash to 0. hash_mode='md5' swaps the element hash for
    md5_long so a DuckDB oracle can replay the sketch bit-for-bit."""
    n_bits = simhash_bits(hash_mode)

    def el_hash(x: Column) -> Column:
        return md5_long(x) if hash_mode == "md5" else F.xxhash64(x)

    hashed = df.withColumn("_sh_hs", F.transform(F.col(set_col), el_hash))
    n = F.size("_sh_hs")
    sim = F.lit(0).cast("long")
    for i in range(n_bits):
        cnt = F.size(
            F.filter(F.col("_sh_hs"), lambda h: F.shiftright(h, i).bitwiseAND(F.lit(1)) == 1)
        )
        sim = sim.bitwiseOR(
            F.when(cnt * 2 > n, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(
                F.lit(0).cast("long")
            )
        )
    return hashed.withColumn(out_col, sim).drop("_sh_hs")


def simhash_hamming(a: Column, b: Column) -> Column:
    """Bit distance between two simhashes: popcount(a XOR b)."""
    return F.bit_count(a.bitwiseXOR(b))


def entity_hash(col: Column) -> Column:
    """Stable entity id: sha2-256 hex of the canonical key (reference
    used blake2b-20, mlir.py:1938-1943; sha2 is native + deterministic).
    Properties (reference README.md:46-49): unique per entity, time
    invariant, invariant to new duplicate pages and re-crawls as long
    as the canonical record is unchanged."""
    return F.sha2(col.cast("string"), 256)
