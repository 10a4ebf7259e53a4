"""Stage 1 — deterministic html -> text extraction.

Per-row invariant (BASELINE.json input_hint): the extracted text must be
byte-identical to the ``text`` column for every ``url``. The extractor is
a pure, versioned function; tests/test_extract.py holds the golden check.

Extraction is JVM-native regex (whole-stage codegen; no Python at
all).

Reference parity: replaces the reference's per-row cleaning UDF entry
points (reference mlir.py:664-697) with declarative column expressions.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

EXTRACTOR_VERSION = 1

_BODY_RE = r"(?s)<body>(.*)</body>"
_TITLE_RE = r"(?s)<title>(.*)</title>"


def html_to_text(html: Column) -> Column:
    """Body text from an html binary column — JVM-side, codegen'd."""
    return F.regexp_extract(F.decode(html, "UTF-8"), _BODY_RE, 1)


def html_to_title(html: Column) -> Column:
    return F.regexp_extract(F.decode(html, "UTF-8"), _TITLE_RE, 1)


def extract(pages: DataFrame) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) -> + extracted_text, title."""
    return pages.withColumn("extracted_text", html_to_text(F.col("html"))).withColumn(
        "title", html_to_title(F.col("html"))
    )
