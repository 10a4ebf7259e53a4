"""sf1-scale evidence for the SKETCH dedup operators (round-4 judge
item #4: minhash/simhash/cross/semantic were only timed at sf0.1 —
10k docs / 2k vectors): MinHash-LSH dedup, SimHash dedup, and
cross-corpus MinHash dedup at 150k docs, and SRP-bucketed semantic
dedup at ~100k vectors, each with the same per-task skew audit the
paragraph/span evidence uses (the run's local event log, worst stage
max/median task time).

Duplication is PLANTED deliberately at scale: the doc replicate's
alphabet rotation wraps at 26, so copies 26+ are byte-identical to
copies 0+ (full-duplicate stressor — every fingerprint/band of those
copies is a corpus-wide hot key); the embedding replicate rolls each
vector per copy (distinct directions) but keeps every 50th source
vector UNROLLED in all copies, planting ~2% exact semantic duplicates
in groups of `mult` — the hot-bucket shape SRP banding must absorb.

Results merge into SF1.json under "sketchops"; summarized in
BASELINE.md.

Usage: PYTHONPATH=/root/repo python tools/sf1_sketchops.py
  (SF1_MULT=30 docs multiplier, SF1_EMB_MULT=50 vectors multiplier)
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from sf1_trainops import _add_task_skews, _eventlog_conf  # noqa: E402  (same audit)


def main() -> None:
    from pyspark.sql import functions as F

    from bench import _replicate_docs, _warmup
    from entity_resolution_spark.operators.dedup import (
        minhash_lsh_dedup,
        minhash_lsh_dedup_against,
        semantic_dedup,
        simhash_dedup,
    )
    from entity_resolution_spark.session import get_spark

    mult = int(os.environ.get("SF1_MULT", "30"))
    emb_mult = int(os.environ.get("SF1_EMB_MULT", "50"))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    log_dir, log_conf = _eventlog_conf("sf1_sketchops_eventlog_")
    spark = get_spark(
        app_name="sf1_sketchops",
        master="local[32]",
        shuffle_partitions=max(64, 8 * mult),
        extra_conf=log_conf,
    )
    _warmup(spark, sf_dir)
    par = spark.sparkContext.defaultParallelism

    docs = _replicate_docs(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .repartition(par * 2, "doc_id"),
        mult,
    )
    docs_dir = os.path.join(os.environ.get("SF1_TMP", "/tmp"), f"sf1_sketch_docs_m{mult}")
    docs.write.mode("overwrite").parquet(docs_dir)
    docs = spark.read.parquet(docs_dir)
    n_docs = docs.count()

    skew_recs: dict[str, dict] = {}

    def timed(name: str, make_df, unit_n: int, unit: str, skew_group: str) -> dict:
        # make_df is a THUNK: several of these operators do eager work
        # at construction (two-phase scoring checkpoints, CC loop
        # actions), so building the frame must happen INSIDE the timed
        # window — same posture as bench.py's _timed.
        sc = spark.sparkContext
        sc.setJobGroup(skew_group, f"sf1_sketchops:{name}")
        t0 = time.time()
        make_df().write.format("noop").mode("overwrite").save()
        sec = time.time() - t0
        sc.setJobGroup("sf1_other", "")
        rec = {"sec": round(sec, 1), f"{unit}_per_sec": round(unit_n / sec, 1)}
        skew_recs[skew_group] = rec
        return rec

    out: dict = {"mult": mult, "n_docs": n_docs}
    out["minhash_lsh_dedup"] = timed(
        "minhash",
        lambda: minhash_lsh_dedup(docs, threshold=0.5),
        n_docs,
        "docs",
        "mh_skew",
    )
    out["simhash_dedup"] = timed(
        "simhash", lambda: simhash_dedup(docs), n_docs, "docs", "sh_skew"
    )
    # cross-corpus: a 1k-doc batch (suffix-sliced so it near-matches,
    # not exact-matches, its sources) against the full 150k corpus
    batch = (
        docs.filter(F.pmod(F.col("doc_id"), F.lit(149)) == 0)
        .select(
            (F.col("doc_id") + 900_000_000).alias("doc_id"),
            F.concat_ws(" ", F.slice(F.split("text", " "), 3, 100000)).alias("text"),
        )
        .localCheckpoint(eager=True)
    )
    n_batch = batch.count()
    out["n_cross_batch"] = n_batch
    out["cross_dedup"] = timed(
        "cross",
        lambda: minhash_lsh_dedup_against(batch, docs, threshold=0.5),
        n_batch,
        "batch_docs",
        "cx_skew",
    )

    # embeddings at ~100k vectors: per-copy roll keeps directions
    # distinct; every 50th source vector stays unrolled in all copies
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select("vec_id", "embedding")
    dim = len(emb.first()["embedding"])
    copies = []
    for c in range(emb_mult):
        k = c % max(dim - 1, 1)
        rolled = F.concat(
            F.slice("embedding", k + 1, dim - k), F.slice("embedding", 1, k)
        )
        copies.append(
            emb.select(
                (F.col("vec_id") + F.lit(c * 100_000_000)).alias("vec_id"),
                F.when(F.pmod(F.col("vec_id"), F.lit(50)) == 0, F.col("embedding"))
                .otherwise(rolled)
                .alias("embedding"),
            )
        )
    from functools import reduce

    from pyspark.sql import DataFrame

    vecs = reduce(DataFrame.unionByName, copies).repartition(par * 2, "vec_id")
    vecs_dir = os.path.join(os.environ.get("SF1_TMP", "/tmp"), f"sf1_vecs_m{emb_mult}")
    vecs.write.mode("overwrite").parquet(vecs_dir)
    vecs = spark.read.parquet(vecs_dir)
    n_vecs = vecs.count()
    out["n_vectors"] = n_vecs
    out["semantic_dedup"] = timed(
        "semantic",
        lambda: semantic_dedup(vecs, threshold=0.95, dim=dim),
        n_vecs,
        "vecs",
        "sd_skew",
    )

    _add_task_skews(spark, log_dir, skew_recs)

    sf1_path = os.path.join(REPO, "SF1.json")
    try:
        with open(sf1_path) as f:
            sf1 = json.load(f)
    except OSError:
        sf1 = {}
    sf1.setdefault("sketchops", {})[str(mult)] = out
    with open(sf1_path, "w") as f:
        json.dump(sf1, f, indent=1)
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
