"""Stage 9 — canonical-record selection + stable entity-ID stamping.

Reference parity: the reference picks a canonical record per component
with a 4-level min cascade (min first_txn_dte, then store, then upc,
then card — mlir.py:1981-2010) implemented as chained Snowflake joins,
then stamps blake2b(canonical card) (mlir.py:1938-1943). Here the whole
cascade is ONE partial-aggregatable min(struct(warc_ts, url)) — the W2
mapping in SURVEY.md §2.5, lexicographic struct ordering = the cascade
— fused with the size count in a single groupBy, and the id is
sha2(canonical url). (Round-4 de-skew: this was a row_number window,
which gathers every member of a component into ONE task — a
boilerplate-linked mega-component would straggle; the agg combines
map-side and the attach join is AQE-skew-splittable.)

Entity-ID properties (reference README.md:46-49): unique per entity;
time invariant; invariant to adding new duplicate pages / re-crawls
(as long as the earliest page of the component is unchanged).
A page in no component is a one-page component keyed by its own
url_id, so it goes through the same aggregate and its id is the hash
of its own url. The reference stamps such records with a separate
anti-join (mlir.py:2044-2049); here one left join and one groupBy
cover both.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from entity_resolution_spark.functions.hashing import entity_hash


def stamp_entities(pages: DataFrame, components: DataFrame) -> DataFrame:
    """pages(url, url_id, warc_ts, ...) x components(id, component) ->
    entities(url, url_id, entity_id, canonical_url, component_size,
    first_seen).

    The group key is coalesce(component, url_id): a component label is
    the id of one of its members, and a page in no component is no
    member, so its url_id never names another component. A url that
    appears on several page rows is counted once per row, clustered or
    not: a singleton url on two rows has component_size 2, and both
    rows get the earlier warc_ts as first_seen.
    """
    keyed = pages.join(components, pages["url_id"] == components["id"], "left").select(
        "url", "url_id", "warc_ts", F.coalesce("component", "url_id").alias("_key")
    )
    # one agg computes the canonical winner AND the size: min(struct)
    # orders by (warc_ts, url) lexicographically, so the earliest page
    # wins and a tie on warc_ts goes to the smaller url
    canon = keyed.groupBy("_key").agg(
        F.min(F.struct(F.col("warc_ts"), F.col("url"))).alias("_w"),
        F.count("*").alias("component_size"),
    )
    return keyed.join(canon, "_key").select(
        "url",
        "url_id",
        entity_hash(F.col("_w.url")).alias("entity_id"),
        F.col("_w.url").alias("canonical_url"),
        "component_size",
        F.col("_w.warc_ts").alias("first_seen"),
    )
