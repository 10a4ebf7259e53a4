"""sf1-scale evidence run (round-2 VERDICT item 6): the ER core at
~100k pages — 10x the sf0.1 documents table with per-copy character
translation (copies never share shingles/blocks, work scales
linearly) — recording end-to-end seconds, candidate-pairs/sec, the
blocking key-stat distribution (kept / singleton / dropped_hot /
salted), and per-stage shuffle volume from the Spark status REST API.

This is the first direct evidence that the cap/salt/AQE story holds
an order of magnitude beyond the 10k-page bench corpus. Results are
written to SF1.json and summarized in BASELINE.md.

Usage: PYTHONPATH=/root/repo python tools/sf1_evidence.py
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _shuffle_stats(ui_url: str) -> dict:
    """Peak + total shuffle bytes across completed stages (REST API)."""
    apps = json.load(urllib.request.urlopen(f"{ui_url}/api/v1/applications"))
    app_id = apps[0]["id"]
    stages = json.load(
        urllib.request.urlopen(f"{ui_url}/api/v1/applications/{app_id}/stages?status=complete")
    )
    writes = [s.get("shuffleWriteBytes", 0) for s in stages]
    reads = [s.get("shuffleReadBytes", 0) for s in stages]
    return {
        "n_stages": len(stages),
        "peak_stage_shuffle_write_mb": round(max(writes, default=0) / 1e6, 1),
        "total_shuffle_write_mb": round(sum(writes) / 1e6, 1),
        "peak_stage_shuffle_read_mb": round(max(reads, default=0) / 1e6, 1),
        "total_shuffle_read_mb": round(sum(reads) / 1e6, 1),
    }


def main() -> None:
    from pyspark.sql import functions as F

    from bench import _bench_pages, _warmup
    from entity_resolution_spark.operators.pairs import candidate_pairs
    from entity_resolution_spark.operators.scoring import deterministic_match_pass
    from entity_resolution_spark.plans.pipeline import EntityResolutionPipeline
    from entity_resolution_spark.session import get_spark

    mult = int(os.environ.get("SF1_MULT", "10"))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(
        app_name="sf1_evidence",
        master="local[32]",
        # width scales with the corpus so per-partition state stays
        # bounded (at mult=30 the 64-partition layout OOMed)
        shuffle_partitions=max(64, 8 * mult),
        extra_conf={"spark.ui.enabled": "true"},
    )
    _warmup(spark, sf_dir)

    t0 = time.time()
    pages = _bench_pages(spark, sf_dir, mult)
    pipe = EntityResolutionPipeline()
    # parquet spill, NOT localCheckpoint: the feature table carries
    # multi-KB shingle arrays, and beyond ~100k pages the heap-resident
    # checkpoint blocks OOM a 24g driver — the disk roundtrip is the
    # same pattern the pipeline's StageCheckpointer uses at scale
    feats_dir = os.path.join(
        os.environ.get("SF1_TMP", "/tmp"), f"sf1_feats_mult{mult}"
    )
    pipe.featurize(pages).write.mode("overwrite").parquet(feats_dir)
    feats = spark.read.parquet(feats_dir)
    blocks, stats = pipe.block(feats)
    pairs = candidate_pairs(blocks)
    # materialize=False: at 10^8+ pairs the attach is too large to pin
    # (the operator's documented scale path) — the fingerprint attach
    # is a broadcast map-side join, cheap to recompute per consumer
    det, rem = deterministic_match_pass(pairs, feats, materialize=False)
    scored = pipe.score(rem, feats)
    agg = scored.agg(
        F.count("*").alias("n_pairs"),
        F.sum((F.col("score") >= pipe.config.scoring.threshold).cast("long")).alias("n_match"),
    ).first()
    n_det = det.count()
    n_pages = feats.count()
    sec = time.time() - t0
    n_pairs = int(agg["n_pairs"] or 0) + n_det

    key_rows = (
        stats.groupBy("status")
        .agg(F.count("*").alias("keys"), F.sum("n_records").alias("rows"))
        .collect()
    )
    key_stats = {r["status"]: {"keys": int(r["keys"]), "rows": int(r["rows"])} for r in key_rows}
    n_salted_keys = blocks.filter(F.col("block_key").contains("#")).select(
        "block_key"
    ).distinct().count()
    max_key = blocks.groupBy("block_key").count().agg(F.max("count")).first()[0]

    out = {
        "mult": mult,
        "n_pages": n_pages,
        "n_candidate_pairs": n_pairs,
        "n_matches": int(agg["n_match"] or 0) + n_det,
        "sec": round(sec, 1),
        "pairs_per_sec": round(n_pairs / sec, 1),
        "pages_per_sec": round(n_pages / sec, 1),
        "key_stats": key_stats,
        "n_salted_subkeys": n_salted_keys,
        "max_block_key_size": int(max_key or 0),
        **_shuffle_stats(spark.sparkContext.uiWebUrl),
    }
    # merge into SF1.json keyed by mult, so multiple scale points
    # (10x, 30x, ...) accumulate into one evidence artifact
    sf1_path = os.path.join(REPO, "SF1.json")
    doc: dict = {"measured_by": "tools/sf1_evidence.py", "runs": {}}
    if os.path.exists(sf1_path):
        with open(sf1_path) as f:
            prev = json.load(f)
        if "runs" in prev:
            doc["runs"] = prev["runs"]
        elif "mult" in prev:  # legacy single-run layout
            doc["runs"][str(prev["mult"])] = {
                k: v for k, v in prev.items() if k != "measured_by"
            }
    doc["runs"][str(mult)] = out
    with open(sf1_path, "w") as f:
        json.dump(doc, f, indent=2)
    print(json.dumps(out))
    import shutil

    shutil.rmtree(feats_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
