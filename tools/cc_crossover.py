"""Time connected components in both regimes on one synthetic edge set
per size: driver-side labeling (budget raised so every size takes it)
against large-star/small-star rounds (budget -1). Prints one line per
size and regime: wall seconds, CPU seconds of this process tree (JVM
and Python workers included), Spark jobs, and whether the size falls
within the default 64 MiB budget under connected_components' own size
estimate.

Edges are random pairs over as many nodes as edges (a sparse graph of
many small components and a few large ones, like ER match edges), with
long or string ids.

Usage: PYTHONPATH=. python tools/cc_crossover.py [long|str] N [N ...]
"""

from __future__ import annotations

import os
import sys
import time

from pyspark.sql import functions as F

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from entity_resolution_spark import get_spark  # noqa: E402
from entity_resolution_spark.operators import connected_components as cc  # noqa: E402
from perfbench.run import tree_cpu_s  # noqa: E402

BUDGET = "spark.sql.autoBroadcastJoinThreshold"
DEFAULT_BUDGET = 64 << 20


def edge_set(spark, kind: str, n: int):
    ends = [F.pmod(F.xxhash64("id", F.lit(salt)), F.lit(n)) for salt in (1, 2)]
    if kind == "str":
        ends = [F.concat(F.lit("https://example.com/page/"), e) for e in ends]
    return spark.range(n).select(ends[0].alias("src"), ends[1].alias("dst")).localCheckpoint()


def main(argv: list[str]) -> None:
    kind, sizes = argv[0], [int(a) for a in argv[1:]]
    spark = get_spark(master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    tracker = spark.sparkContext.statusTracker()
    cc.connected_components(edge_set(spark, kind, 1000)).collect()  # warm
    for n in sizes:
        edges = edge_set(spark, kind, n)
        distinct = edges.filter("src != dst").distinct()
        n_edges = distinct.count()
        payload = (
            distinct.select(F.sum(F.octet_length("src") + F.octet_length("dst"))).first()[0]
            if kind == "str"
            else 0
        )
        est = n_edges * cc._LOCAL_BYTES_PER_EDGE + payload * cc._PAYLOAD_COPIES
        for regime, budget in (("local", str(1 << 40)), ("star", "-1")):
            spark.conf.set(BUDGET, budget)
            spark.sparkContext.setJobGroup(f"cc-{regime}-{n}", regime)
            c0, t0 = tree_cpu_s(), time.perf_counter()
            rows = len(cc.connected_components(edges).collect())
            wall, cpu = time.perf_counter() - t0, tree_cpu_s() - c0
            jobs = len(tracker.getJobIdsForGroup(f"cc-{regime}-{n}"))
            print(
                f"{kind} edges={n_edges} est_mib={est / 2**20:.1f} "
                f"within_default={est <= DEFAULT_BUDGET} {regime}: wall_s={wall:.2f} "
                f"cpu_s={cpu:.2f} jobs={jobs} rows={rows}",
                flush=True,
            )
        spark.conf.set(BUDGET, str(DEFAULT_BUDGET))
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
