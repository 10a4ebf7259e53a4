"""sf1-scale evidence run (round-2 VERDICT item 6): the ER core at
~100k pages — 10x the sf0.1 documents table with per-copy character
translation (copies never share shingles/blocks, work scales
linearly) — recording end-to-end seconds, candidate-pairs/sec, the
blocking key-stat distribution (kept / singleton / dropped_hot /
salted), and per-stage shuffle volume from the run's local event log.

This is the first direct evidence that the cap/salt/AQE story holds
an order of magnitude beyond the 10k-page bench corpus. Results are
written to SF1.json and summarized in BASELINE.md.

Usage: PYTHONPATH=/root/repo python tools/sf1_evidence.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from perfbench.eventlog import find_log, read_events  # noqa: E402
from sf1_trainops import _eventlog_conf  # noqa: E402


def _shuffle_stats(log_dir: str) -> dict:
    """Peak + total shuffle bytes across completed stages, summed from
    the task ends of the run's event log (read after the session
    stops)."""
    written: dict[int, int] = {}
    read: dict[int, int] = {}
    complete: set[int] = set()
    for ev in read_events(find_log(log_dir)):
        kind = ev.get("Event")
        if kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
            tm, sid = ev["Task Metrics"], ev["Stage ID"]
            sw = tm.get("Shuffle Write Metrics") or {}
            sr = tm.get("Shuffle Read Metrics") or {}
            written[sid] = written.get(sid, 0) + sw.get("Shuffle Bytes Written", 0)
            read[sid] = (
                read.get(sid, 0) + sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            )
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            if "Failure Reason" not in info:
                complete.add(info["Stage ID"])
    writes = [written.get(sid, 0) for sid in complete]
    reads = [read.get(sid, 0) for sid in complete]
    return {
        "n_stages": len(complete),
        "peak_stage_shuffle_write_mb": round(max(writes, default=0) / 1e6, 1),
        "total_shuffle_write_mb": round(sum(writes) / 1e6, 1),
        "peak_stage_shuffle_read_mb": round(max(reads, default=0) / 1e6, 1),
        "total_shuffle_read_mb": round(sum(reads) / 1e6, 1),
    }


def main() -> None:
    from pyspark.sql import functions as F

    from bench import _bench_pages, _warmup
    from entity_resolution_spark.plans.pipeline import EntityResolutionPipeline
    from entity_resolution_spark.session import get_spark

    mult = int(os.environ.get("SF1_MULT", "10"))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    log_dir, log_conf = _eventlog_conf("sf1_evidence_eventlog_")
    spark = get_spark(
        app_name="sf1_evidence",
        # width scales with the corpus so per-partition state stays
        # bounded (at mult=30 the 64-partition layout OOMed)
        shuffle_partitions=max(64, 8 * mult),
        extra_conf=log_conf,
    )
    _warmup(spark, sf_dir)

    # stage checkpoints, NOT localCheckpoint: the feature table carries
    # multi-KB shingle arrays, and beyond ~100k pages heap-resident
    # checkpoint blocks OOM a 24g driver; 03_features is the parquet
    # spill. A stale directory carries the same config fingerprint, so
    # its stages would be resumed instead of measured.
    ckpt_dir = os.path.join(os.environ.get("SF1_TMP", "/tmp"), f"sf1_ckpt_mult{mult}")
    shutil.rmtree(ckpt_dir, ignore_errors=True)
    t0 = time.time()
    pages = _bench_pages(spark, sf_dir, mult)
    pipe = EntityResolutionPipeline()
    feats, pairs = pipe.candidates(pages, checkpoint_dir=ckpt_dir)
    det, scored = pipe.scored(feats, pairs, checkpoint_dir=ckpt_dir)
    n_match = scored.agg(
        F.sum((F.col("score") >= pipe.config.scoring.threshold).cast("long"))
    ).first()[0]
    n_det = det.count()
    n_pages = feats.count()
    sec = time.time() - t0
    n_pairs = pairs.count()  # the 05_pairs stage parquet

    key_rows = (
        pipe.metrics["key_stats"]
        .groupBy("status")
        .agg(F.count("*").alias("keys"), F.sum("n_records").alias("rows"))
        .collect()
    )
    key_stats = {r["status"]: {"keys": int(r["keys"]), "rows": int(r["rows"])} for r in key_rows}
    blocks = spark.read.parquet(os.path.join(ckpt_dir, "04_blocks"))
    n_salted_keys = blocks.filter(F.col("block_key").contains("#")).select(
        "block_key"
    ).distinct().count()
    max_key = blocks.groupBy("block_key").count().agg(F.max("count")).first()[0]
    master = spark.sparkContext.master
    spark.stop()

    out = {
        "mult": mult,
        "master": master,
        "n_pages": n_pages,
        "n_candidate_pairs": n_pairs,
        "n_matches": int(n_match or 0) + n_det,
        "sec": round(sec, 1),
        "pairs_per_sec": round(n_pairs / sec, 1),
        "pages_per_sec": round(n_pages / sec, 1),
        "key_stats": key_stats,
        "n_salted_subkeys": n_salted_keys,
        "max_block_key_size": int(max_key or 0),
        **_shuffle_stats(log_dir),
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
    shutil.rmtree(ckpt_dir, ignore_errors=True)
    shutil.rmtree(log_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
