"""Small shared DataFrame utilities."""

from __future__ import annotations

from pyspark.sql import DataFrame

# fan_out's floor on the target width
MIN_WIDTH = 8

# logical-plan operators whose presence means the frame already has
# shuffle-determined (or caller-chosen) width — fanning out again
# could only shrink it or add a useless exchange
_WIDE_OPERATORS = frozenset(
    "Repartition RepartitionByExpression RebalancePartitions Join Aggregate Window"
    " Sort Distinct Deduplicate DeduplicateWithinWatermark Intersect Except".split()
)


def broadcast_budget(spark) -> int:
    """The session's spark.sql.autoBroadcastJoinThreshold in bytes: the
    one budget for a side Spark or this package collects to the driver
    whole. -1 disables both."""
    return spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()


def fan_out(df: DataFrame, *key_cols: str) -> DataFrame:
    """Repartition a narrow input to cluster width before CPU-bound
    map stages (shingling, MinHash folds, Arrow UDFs, char-gram
    explodes) WHEN the source has fewer input files than cores.

    A single-parquet-file table arrives as 1-2 partitions, and a
    map-side operator (deliberately shuffle-free at scale) then runs
    on 1-2 cores no matter the cluster size — measured 3x on the
    sf0.1 MinHash signature stage. At real scale (input files >>
    cores) the probe is a metadata call and NO shuffle is added; the
    probe uses inputFiles(), never .rdd (which would force RDD
    conversion of the plan). Hash repartition on key_cols keeps the
    layout deterministic; values of every downstream operator are
    partition-independent by design (SURVEY §7.3d).
    """
    target = max(df.sparkSession.sparkContext.defaultParallelism, MIN_WIDTH)
    # The file probe describes the ROOT SCAN, not the frame's current
    # partitioning: a frame the caller already widened or that passed
    # through a shuffle would be SHRUNK back to `target` by a second
    # shuffle — skip those. The analyzed plan is walked node by node
    # and matched on operator NAMES, so a column such as JoinDate or
    # SortKey in the plan text cannot read as an operator.
    try:
        stack, nodes = [df._jdf.queryExecution().analyzed()], set()
        while stack:
            node = stack.pop()
            nodes.add(node.nodeName())
            kids = node.children()
            stack.extend(kids.apply(i) for i in range(kids.size()))
    except Exception:  # noqa: BLE001 — probe unavailable: assume bare scan
        nodes = set()
    if nodes & _WIDE_OPERATORS:
        return df
    try:
        n_files = len(df.inputFiles())
    except Exception:  # noqa: BLE001 — conservative: unknown -> fan out
        n_files = 0
    if n_files >= target:
        return df
    return df.repartition(target, *key_cols) if key_cols else df.repartition(target)
