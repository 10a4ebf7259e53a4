"""Seeded page corpora for the benchmark workloads.

Documents are drawn with the statistics of the ``documents`` table the
repository's driver data uses (sf0.1): a 30-word vocabulary, 10-100
tokens per document, five languages weighted toward ``en``, twenty
round-robin sources and ~0.2% planted exact-duplicate texts. Pages are
derived from them by the package's own ``datagen.pages_from_documents``,
so the program only ever sees generated pages.

The seed picks every text and moves every ``doc_id`` by a multiple of
both the variant modulus and the timestamp modulus of
``pages_from_documents``. Page counts and duplication shape are
therefore identical for every seed while every url, domain, shingle and
perturbation changes.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from entity_resolution_spark.datagen import pages_from_documents

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
N_SOURCES = 20
DUP_RATE = 0.002
# lcm of the 24-variant modulus and the 10000-hour timestamp modulus
ID_STRIDE = 30_000_000
# any integer seed is folded into [0, SEED_SPACE), which keeps the
# doc_id offset (< SEED_SPACE * ID_STRIDE ~ 1.3e17) inside int64
SEED_SPACE = 2**32


def fold_seed(seed: int) -> int:
    return seed % SEED_SPACE


def documents(n_docs: int, seed: int) -> pd.DataFrame:
    """documents(doc_id, text, lang, source), deterministic in seed."""
    seed = fold_seed(seed)
    rng = np.random.default_rng(seed)
    lens = rng.integers(10, 101, n_docs)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), n)]) for n in lens]
    for i in np.flatnonzero(rng.random(n_docs) < DUP_RATE):
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))]
    local = np.arange(n_docs, dtype="int64")
    return pd.DataFrame(
        {
            "doc_id": local + np.int64(seed) * ID_STRIDE,
            "text": texts,
            "lang": rng.choice(LANGS, n_docs, p=LANG_P),
            "source": [f"src{i % N_SOURCES}" for i in local],
        }
    )


def pages(spark, docs: pd.DataFrame, max_variants: int):
    """pages(url, warc_ts, html, text, lang, entity_gt) as a Spark
    DataFrame; ``entity_gt`` (= doc_id) is the ground truth and must be
    dropped before the pages reach the program."""
    return pages_from_documents(spark.createDataFrame(docs), max_variants=max_variants)


def dense_docs(n_docs: int, seed: int) -> pd.DataFrame:
    """Duplicate-heavy corpus: every 6th document, up to 24 variants."""
    d = documents(n_docs, seed)
    return d[(d["doc_id"] % 6) == 0].reset_index(drop=True)


def stream_batches(
    all_pages: pd.DataFrame, seed: int, n_batches: int, batch_size: int
) -> tuple[pd.DataFrame, list[pd.DataFrame]]:
    """Split a crawl corpus into the rows that seed the entity table and
    ``n_batches`` micro-batches. Half of each batch is pages never seen
    before; half is re-crawls (same url and content, fetched 30 days
    later) of urls already in the table when the batch lands."""
    half = batch_size // 2
    n_new = n_batches * half
    if n_new >= len(all_pages):
        raise ValueError(f"{n_batches} batches of {half} new pages need more than {len(all_pages)} pages")
    rng = np.random.default_rng(fold_seed(seed) + 1)
    shuffled = all_pages.iloc[rng.permutation(len(all_pages))].reset_index(drop=True)
    seed_rows = shuffled.iloc[: len(shuffled) - n_new].reset_index(drop=True)
    pool = shuffled.iloc[len(shuffled) - n_new :].reset_index(drop=True)
    batches = []
    known = seed_rows
    for b in range(n_batches):
        new = pool.iloc[b * half : (b + 1) * half]
        recrawl = known.iloc[rng.choice(len(known), half, replace=False)].copy()
        recrawl["warc_ts"] = recrawl["warc_ts"] + pd.Timedelta(days=30)
        batches.append(pd.concat([new, recrawl], ignore_index=True))
        known = pd.concat([known, new], ignore_index=True)
    return seed_rows, batches
