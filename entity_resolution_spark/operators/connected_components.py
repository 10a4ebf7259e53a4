"""Stage 8 — transitive clustering: connected components via the
alternating large-star / small-star algorithm (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14) expressed as
pure DataFrame joins/aggregations.

Replaces the reference's GraphFrames dependency
(mlir.py:1837-1885) — same semantics, no native library, O(log n)
rounds, every round a checkpointed shuffle so lineage stays bounded
(the reason the reference had to call setCheckpointDir,
mlir.py:1880).

Node ids may be any totally ordered type (the pipeline uses xxhash64
url ids; raw string urls work too). Output: (id, component) where
component = min id in the component — deterministic regardless of
partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u: connect every strictly-larger neighbor to
    min(neighborhood(u) + u)."""
    bi = edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    mins = bi.groupBy("src").agg(F.min("dst").alias("_min_nbr"))
    mins = mins.select("src", F.least("_min_nbr", F.col("src")).alias("m"))
    return (
        bi.join(mins, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges toward the larger endpoint; connect every smaller
    neighbor (and the node itself) to the minimum."""
    oriented = edges.select(
        F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v")
    )
    mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
    nbrs = (
        oriented.join(mins, "u")
        .filter(F.col("v") != F.col("m"))
        .select(F.col("v").alias("src"), F.col("m").alias("dst"))
    )
    self_edges = mins.select(F.col("u").alias("src"), F.col("m").alias("dst"))
    return nbrs.union(self_edges).filter(F.col("src") != F.col("dst")).distinct()


def _edge_checksum(edges: DataFrame) -> tuple[int, int]:
    # XOR-fold of row hashes: order-independent set checksum with no
    # arithmetic overflow (ANSI-safe; edges are distinct by construction).
    row = edges.select(
        F.count("*").alias("n"),
        F.coalesce(F.expr("bit_xor(xxhash64(src, dst))"), F.lit(0)).alias("chk"),
    ).first()
    return int(row["n"]), int(row["chk"])


def connected_components(edges: DataFrame, max_iter: int = 50) -> DataFrame:
    """edges(src, dst) -> (id, component = min id in the component).

    Iterates large-star/small-star to a fixed point (edge-set checksum
    stable), localCheckpoint()ing each round to truncate lineage.
    Raises RuntimeError if no fixed point is reached in ``max_iter``
    rounds: the edge set is then not yet a star graph and reading
    components off it would split real components.
    Vertices that only appear as sources/dsts of self-loops or not at
    all are the caller's concern (singletons are stamped separately in
    the pipeline).

    Ids may be ANY totally ordered type — the pipeline uses xxhash64
    longs, but string ids (raw urls) work unchanged: the algorithm
    only needs min/greatest/compare. (A previous `.cast("long")` here
    made string-id edges THROW under ANSI mode — found by the verify
    drive running curation directly on url-keyed pages.)
    """
    if max_iter < 1:
        raise ValueError(f"connected_components needs max_iter >= 1, got {max_iter}")
    cur = (
        edges.select("src", "dst").filter(F.col("src") != F.col("dst")).distinct()
    ).localCheckpoint()
    prev_sig: tuple[int, int] | None = None
    for _ in range(max_iter):
        cur = _small_star(_large_star(cur)).localCheckpoint()
        sig = _edge_checksum(cur)
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        raise RuntimeError(
            f"connected_components did not converge in max_iter={max_iter} rounds "
            f"({sig[0]} edges left after the last round)"
        )
    # Fixed point is a star graph: src -> component root (dst).
    members = cur.select(F.col("src").alias("id"), F.col("dst").alias("component"))
    roots = cur.select(F.col("dst").alias("id"), F.col("dst").alias("component")).distinct()
    return members.union(roots).groupBy("id").agg(F.min("component").alias("component"))
