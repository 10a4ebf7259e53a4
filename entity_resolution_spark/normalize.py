"""Stage 2 — normalization & derived columns (domain, tokens, ids).

Replaces the reference's per-row cleaning UDFs (reference
mlir.py:630-945: name/email/address normalization) with native column
expressions over web-page fields. All derived ids are content/url
hashes — deterministic under any parallelism (never
monotonically_increasing_id; SURVEY.md §7.3d).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TOKEN_SPLIT_RE = r"\s+"


def url_domain(url: Column) -> Column:
    """Registrable host of the url (JVM parse_url)."""
    return F.lower(F.parse_url(url, F.lit("HOST")))


def url_id(url: Column, hash_mode: str = "xxhash64") -> Column:
    """Stable numeric id for a url. xxhash64 — deterministic, cheap,
    collision probability ~n^2/2^64 (negligible below ~10^9 per block;
    final entity ids use sha2 so collisions never corrupt identity).
    hash_mode='md5': the ANSI-SQL-reproducible 60-bit variant
    (hashing.md5_long) so a DuckDB oracle can replay id ordering."""
    if hash_mode == "md5":
        from entity_resolution_spark.functions.hashing import md5_long

        return md5_long(url)
    return F.xxhash64(url)


def normalize_text(col: Column) -> Column:
    """Lowercase, collapse whitespace, strip. (The analog of the
    reference's lowercase+trim pass, mlir.py:664-682.)"""
    return F.trim(F.regexp_replace(F.lower(col), TOKEN_SPLIT_RE, " "))


def tokens(col: Column) -> Column:
    """Whitespace tokens of normalized text; empty strings removed."""
    return F.filter(F.split(normalize_text(col), " "), lambda t: F.length(t) > 0)


# 833 is a deliberate divergence from the reference's list (mlir.py:567),
# which predates it: 833 was assigned as a toll-free code in 2017.
TOLL_FREE_AREA_CODES = ("800", "888", "877", "866", "855", "844", "833")


def phone_digits(col: Column) -> Column:
    """Digits-only projection of a phone-number candidate (the
    reference's ``"".join(t for t in x if t.isdigit())``,
    mlir.py:556)."""
    return F.regexp_replace(col, "[^0-9]", "")


def is_valid_phone(col: Column) -> Column:
    """NANP structural validity of a phone candidate — reference F9
    (``is_valid_phone_number``, mlir.py:551-579) re-expressed as pure
    column algebra. The reference gates on (a) exactly 10 digits after
    stripping non-digits, (b) ``phonenumbers`` US/CA/MX validity, and
    (c) not toll-free. (b)'s structural content for a 10-digit NANP
    number is area code [2-9]XX and exchange [2-9]XX — encoded here as
    one anchored rlike, so an 11-digit "+1 ..." candidate fails the
    length gate exactly as the reference's does. The reference runs
    this as a per-row Python UDF importing ``phonenumbers`` per call —
    a scale-killer at 100 TB; here it is three JVM-side predicates
    with zero Python and full codegen."""
    d = phone_digits(col)
    return (
        col.isNotNull()
        & (F.length(d) == 10)
        & d.rlike("^[2-9][0-9]{2}[2-9][0-9]{6}$")
        & ~F.substring(d, 1, 3).isin(*TOLL_FREE_AREA_CODES)
    )


def normalize(pages: DataFrame, hash_mode: str = "xxhash64") -> DataFrame:
    """Append url_id, domain, norm_title, text_tokens, title_tokens."""
    return (
        pages.withColumn("url_id", url_id(F.col("url"), hash_mode))
        .withColumn("domain", url_domain(F.col("url")))
        .withColumn("norm_title", normalize_text(F.col("title")))
        .withColumn("title_tokens", tokens(F.col("title")))
        .withColumn("text_tokens", tokens(F.col("extracted_text")))
    )
