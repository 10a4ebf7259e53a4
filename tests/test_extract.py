"""Byte-identity of html→text extraction (BASELINE.json per-row
invariant; golden check per SURVEY.md §5.2)."""

from pyspark.sql import functions as F

from entity_resolution_spark.extract import extract


def test_extract_byte_identical(corpus):
    pages, _, _ = corpus
    ext = extract(pages)
    mismatched = ext.filter(F.col("extracted_text") != F.col("text")).count()
    assert mismatched == 0


def test_title_extracted(corpus):
    pages, _, _ = corpus
    ext = extract(pages)
    assert ext.filter(F.length("title") > 0).count() == ext.count()
