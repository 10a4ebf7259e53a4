"""Stage 10 — incremental entity-table maintenance.

Reference parity: the reference maintains full entity tables and folds
in new batches with NOT-EXISTS inserts (mlir.py:2066-2095,
2300-2306) — existing entities keep their ids; only unseen records are
appended. Same contract here via left_anti + unionByName: a url already
present keeps its existing row even if the new batch clustered it
differently (id stability beats cluster drift; README.md:46-49
invariants).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def merge_entities(existing: DataFrame, batch: DataFrame) -> DataFrame:
    """existing/batch: entities(url, url_id, entity_id, canonical_url,
    ...) -> merged table: every existing row unchanged, plus the batch
    rows whose url is not in `existing` (the NOT-EXISTS insert).

    Precondition: entity_id = entity_hash(canonical_url) on both inputs
    (stamp_entities sets it, this merge keeps it). So a new url whose
    batch canonical is an existing entity's canonical already carries
    that entity's id; no join on canonical_url is needed."""
    return existing.unionByName(batch.join(existing.select("url"), "url", "left_anti"))


def delta_candidate_pairs(
    blocks: DataFrame, new_ids: DataFrame, id_col: str = "url_id"
) -> DataFrame:
    """Incremental blocking: candidate pairs touching at least one NEW
    record — exactly C(all) \\ C(old), without ever materializing the
    old-old pair set.

    This is the reference's delta semantics (incremental extract feeds
    only new cards through pair generation, Orchestrate_Demo.py:75-154)
    done the scale-correct way: at 10^12 documents a daily crawl batch
    is ~0.1% of the corpus, and re-scoring the 99.9% of pairs whose
    both sides are old would dwarf the useful work. Plan: semi-join the
    block table down to new members (tiny), join THAT against the full
    block table on the key — the shuffle is sized by the delta, not the
    corpus — normalize pair order, drop duplicates.

    blocks(block_key, url_id): the capped block table over old+new.
    new_ids(url_id): ids of this batch's records.
    Returns pairs(id_1, id_2), id_1 < id_2, each pair once.
    """
    new_blocks = blocks.join(
        new_ids.select(F.col(id_col)).dropDuplicates([id_col]), id_col, "left_semi"
    ).select("block_key", F.col(id_col).alias("_n"))
    all_blocks = blocks.select("block_key", F.col(id_col).alias("_a"))
    return (
        new_blocks.join(all_blocks, "block_key")
        .filter(F.col("_n") != F.col("_a"))
        .select(
            F.least("_n", "_a").alias("id_1"),
            F.greatest("_n", "_a").alias("id_2"),
        )
        .dropDuplicates(["id_1", "id_2"])
    )
