"""Incremental entity-table maintenance (reference J7/mlir.py:2082-2095
analog) + checkpoint/resume (SURVEY.md §5.5)."""

import os
import shutil

from pyspark.sql import functions as F

from entity_resolution_spark.operators.incremental import merge_entities
from entity_resolution_spark.plans.pipeline import EntityResolutionPipeline, PipelineConfig
from entity_resolution_spark.sources.checkpoint import StageCheckpointer


def test_merge_keeps_existing_ids(spark, corpus):
    pages, _, _ = corpus
    ents = EntityResolutionPipeline().run(pages).cache()
    # batch = same pages re-clustered (simulates a re-crawl batch)
    batch = EntityResolutionPipeline().run(pages)
    merged = merge_entities(ents, batch)
    assert merged.count() == ents.count()  # no new urls -> no growth
    diff = (
        merged.alias("m")
        .join(ents.alias("e"), "url")
        .filter(F.col("m.entity_id") != F.col("e.entity_id"))
        .count()
    )
    assert diff == 0


def test_merge_appends_only_new_urls(spark, corpus):
    """One new url is appended; it shares its existing cluster's
    canonical, so its entity_id equals that cluster's existing id."""
    pages, _, _ = corpus
    ents = EntityResolutionPipeline().run(pages).cache()
    half = pages.limit(pages.count() // 2)
    new_page = half.limit(1).select(
        F.concat(F.col("url"), F.lit("-v2")).alias("url"),
        (F.col("warc_ts") + F.expr("INTERVAL 10 DAYS")).alias("warc_ts"),
        "html",
        "text",
        "lang",
    )
    batch = EntityResolutionPipeline().run(pages.unionByName(new_page))
    merged = merge_entities(ents, batch)
    assert merged.count() == ents.count() + 1
    # same canonical as its existing cluster -> the same entity_id
    new_row = merged.filter(F.col("url").endswith("-v2")).first()
    old = {r["url"]: r["entity_id"] for r in ents.collect()}
    orig_url = new_row["url"][: -len("-v2")]
    assert new_row["entity_id"] == old[orig_url]


def _adoption_merge(existing, batch):
    """The former merge: a new url whose batch canonical is an existing
    canonical takes that entity's id (canonical dedup + left join +
    coalesce). The oracle for the NOT-EXISTS insert below."""
    new_rows = batch.join(existing.select("url"), "url", "left_anti")
    canon = existing.select(
        "canonical_url", F.col("entity_id").alias("_existing_id")
    ).dropDuplicates(["canonical_url"])
    return existing.unionByName(
        new_rows.join(canon, "canonical_url", "left")
        .withColumn("entity_id", F.coalesce("_existing_id", "entity_id"))
        .drop("_existing_id")
        .select(*batch.columns)
    )


def test_merge_entities_is_not_exists_insert(spark):
    """With entity_id = entity_hash(canonical_url) on both sides, the
    NOT-EXISTS insert gives the adoption merge's rows, with no
    aggregate in its plan."""
    from entity_resolution_spark.functions.hashing import entity_hash

    def table(rows):
        return spark.createDataFrame(
            rows, "url string, canonical_url string, component_size long"
        ).withColumn("entity_id", entity_hash(F.col("canonical_url")))

    existing = table([("a", "a", 2), ("b", "a", 2), ("c", "c", 2), ("d", "c", 2)])
    batch = table(
        [
            ("e", "a", 2),  # new url, batch canonical is an existing canonical
            ("c", "b", 3),  # re-crawl of an existing url in another batch cluster
            ("b", "b", 3),
            ("x", "x", 2),  # brand-new cluster
            ("y", "x", 2),
        ]
    )
    merged = merge_entities(existing, batch)
    assert sorted(merged.collect()) == sorted(_adoption_merge(existing, batch).collect())
    assert {r["url"] for r in merged.collect()} == set("abcdexy")
    plan = merged._jdf.queryExecution().optimizedPlan().toString()
    assert "Aggregate" not in plan, plan


def test_resume_skips_completed_stages(spark, corpus, tmp_path):
    pages, _, _ = corpus
    ckpt = str(tmp_path / "ckpt")
    cfg = PipelineConfig()
    a = EntityResolutionPipeline(cfg).run(pages, checkpoint_dir=ckpt)
    rows_a = sorted((r["url"], r["entity_id"]) for r in a.collect())
    # kill-after-stage-k simulation: drop the last two stages, resume
    shutil.rmtree(os.path.join(ckpt, "09_entities"))
    shutil.rmtree(os.path.join(ckpt, "08_components"))
    b = EntityResolutionPipeline(cfg).run(pages, checkpoint_dir=ckpt)
    rows_b = sorted((r["url"], r["entity_id"]) for r in b.collect())
    assert rows_a == rows_b
    # killed between the 04_blocks and 04_key_stats writes: blocks are
    # complete, key stats and everything after are missing
    for stage in ("04_key_stats", "05_pairs", "06_scored", "08_components", "09_entities"):
        shutil.rmtree(os.path.join(ckpt, stage))
    c = EntityResolutionPipeline(cfg).run(pages, checkpoint_dir=ckpt)
    rows_c = sorted((r["url"], r["entity_id"]) for r in c.collect())
    assert rows_a == rows_c
    # scored stage lost, components complete: nothing reads 06_scored on
    # this resume, so it must be neither recomputed nor rewritten
    shutil.rmtree(os.path.join(ckpt, "06_scored"))
    d = EntityResolutionPipeline(cfg).run(pages, checkpoint_dir=ckpt)
    rows_d = sorted((r["url"], r["entity_id"]) for r in d.collect())
    assert not os.path.exists(os.path.join(ckpt, "06_scored"))
    assert rows_a == rows_d


def test_manifest_lineage(spark, corpus, tmp_path):
    pages, _, _ = corpus
    ckpt_dir = str(tmp_path / "ck2")
    pipe = EntityResolutionPipeline()
    pipe.run(pages, checkpoint_dir=ckpt_dir)
    m = StageCheckpointer(spark, ckpt_dir, pipe.config.fingerprint()).manifest("03_features")
    assert m["complete"] is True
    assert m["rows"] == pages.count()
    assert m["rows"] == sum(m["partition_lineage"].values())
    assert m["n_partitions"] >= 1


def _jobs_submitted(spark, fn) -> int:
    sc = spark.sparkContext
    group = "checkpoint-write-jobs"
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_checkpoint_write_is_one_job(spark, tmp_path):
    """The manifest comes from the parquet footers: the write is the
    stage's only Spark job (no re-scan, no schema inference)."""
    df = spark.range(5000).selectExpr("id", "cast(id % 7 as string) AS k").localCheckpoint()
    ck = StageCheckpointer(spark, str(tmp_path / "ck_jobs"), "fp")
    assert _jobs_submitted(spark, lambda: ck.write(df, "s")) == 1


def test_manifest_matches_spark_read(spark, tmp_path):
    """rows, partition_lineage (rows per written part file, keyed by the
    partition index in its name) and schema equal what Spark reads back."""
    df = (
        spark.range(3000)
        .selectExpr("id", "array(id, id + 1) AS xs", "named_struct('a', id % 5) AS s")
        .repartition(5)
    )
    ck = StageCheckpointer(spark, str(tmp_path / "ck_lineage"), "fp")
    back = ck.write(df, "s")
    m = ck.manifest("s")
    spark_read = spark.read.parquet(os.path.join(ck.root, "s"))
    by_file = spark_read.groupBy(F.col("_metadata.file_name").alias("f")).count().collect()
    lineage = {}
    for r in by_file:
        part = str(int(r["f"].split("-")[1]))
        lineage[part] = lineage.get(part, 0) + r["count"]
    assert m["rows"] == spark_read.count() == 3000
    assert m["partition_lineage"] == lineage
    assert m["n_partitions"] == len(lineage)
    assert m["schema"] == spark_read.schema.jsonValue()
    assert back.schema == spark_read.schema
    assert sorted(back.collect()) == sorted(spark_read.collect())


def test_manifest_of_empty_stage(spark, tmp_path):
    ck = StageCheckpointer(spark, str(tmp_path / "ck_empty"), "fp")
    back = ck.write(spark.range(10).filter("id < 0"), "s")
    assert ck.manifest("s")["rows"] == 0
    assert back.count() == 0
    assert back.schema == spark.read.parquet(os.path.join(ck.root, "s")).schema


def test_stale_config_invalidates_checkpoint(spark, corpus, tmp_path):
    from entity_resolution_spark.operators.scoring import ScoringConfig

    pages, _, _ = corpus
    ckpt = str(tmp_path / "ck3")
    EntityResolutionPipeline(PipelineConfig()).run(pages, checkpoint_dir=ckpt)
    loose = PipelineConfig(scoring=ScoringConfig(threshold=0.9))
    ck = StageCheckpointer(spark, ckpt, loose.fingerprint())
    assert not ck.is_complete("03_features")


def test_delta_candidate_pairs_is_exact_set_difference(spark):
    """delta pairs == C(old+new) minus C(old) — no old-old pair ever
    emitted, every pair touching a new record emitted exactly once."""
    from entity_resolution_spark.operators.incremental import delta_candidate_pairs
    from entity_resolution_spark.operators.pairs import candidate_pairs

    rows = [("k1", i) for i in range(6)] + [("k2", 10 + i) for i in range(4)] + [("k2", 3)]
    all_blocks = spark.createDataFrame(rows, "block_key string, url_id long")
    new = spark.createDataFrame([(4,), (13,)], "url_id long")
    old_blocks = all_blocks.join(new, "url_id", "left_anti")

    want = {
        (r["id_1"], r["id_2"]) for r in candidate_pairs(all_blocks).collect()
    } - {(r["id_1"], r["id_2"]) for r in candidate_pairs(old_blocks).collect()}
    got = {(r["id_1"], r["id_2"]) for r in delta_candidate_pairs(all_blocks, new).collect()}
    assert got == want
    assert all(a < b for a, b in got)
    # sanity: both new-old and (if present) new-new pairs appear
    assert (3, 4) in got and (4, 5) in got
