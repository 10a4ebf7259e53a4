"""The seeded generator: one seed gives one corpus; another seed gives
other urls at the same page count."""

import hashlib

import pandas as pd
import pytest

from perfbench import corpus


@pytest.fixture(scope="module")
def spark():
    from entity_resolution_spark.packaging import ship_package
    from entity_resolution_spark.session import get_spark

    s = get_spark(app_name="perfbench_tests", master="local[2]", shuffle_partitions=2)
    ship_package(s)
    return s


def _pages(spark, seed, dense=False):
    docs = corpus.dense_docs(120, seed) if dense else corpus.documents(60, seed)
    return corpus.pages(spark, docs, 24 if dense else 3).toPandas()


def _digest(pages):
    rows = sorted(zip(pages["url"], pages["text"], pages["warc_ts"].astype(str)))
    return hashlib.sha256(repr(rows).encode()).hexdigest()


def test_documents_deterministic_per_seed():
    a, b = corpus.documents(200, 5), corpus.documents(200, 5)
    pd.testing.assert_frame_equal(a, b)
    c = corpus.documents(200, 6)
    assert not set(a["doc_id"]) & set(c["doc_id"])
    assert (a["text"] != c["text"]).mean() > 0.9


def test_documents_keep_variant_and_timestamp_moduli():
    a, c = corpus.documents(50, 0), corpus.documents(50, 7)
    assert ((a["doc_id"] % 24).tolist()) == ((c["doc_id"] % 24).tolist())
    assert ((a["doc_id"] % 10000).tolist()) == ((c["doc_id"] % 10000).tolist())


def test_any_integer_seed_is_folded():
    for seed in (-1, 2**32 + 5, 2**63 - 1):
        d = corpus.documents(10, seed)
        assert d["doc_id"].dtype == "int64" and (d["doc_id"] >= 0).all()
    pd.testing.assert_frame_equal(corpus.documents(10, 2**32 + 5), corpus.documents(10, 5))


@pytest.mark.parametrize("dense", [False, True])
def test_pages_same_seed_same_digest_other_seed_other_urls(spark, dense):
    a, b = _pages(spark, 3, dense), _pages(spark, 3, dense)
    assert _digest(a) == _digest(b)
    c = _pages(spark, 4, dense)
    assert len(c) == len(a)
    assert not set(a["url"]) & set(c["url"])


def test_stream_batches_half_new_half_recrawl(spark):
    all_pages = _pages(spark, 9)
    seed_rows, batches = corpus.stream_batches(all_pages, 9, n_batches=3, batch_size=20)
    known = set(seed_rows["url"])
    assert len(seed_rows) == len(all_pages) - 30
    for batch in batches:
        assert len(batch) == 20 and batch["url"].is_unique
        new = batch[~batch["url"].isin(known)]
        assert len(new) == 10
        known |= set(new["url"])
    assert known == set(all_pages["url"])
