"""fan_out: width guarantee for map-side stages + no-op conditions."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from entity_resolution_spark.util import fan_out


@pytest.mark.parametrize("col", ["k", "JoinDate", "SortKey"])
def test_fan_out_widens_single_file_input(spark, tmp_path, col):
    # column names containing operator names (Join, Sort) must not read
    # as a post-shuffle plan: the probe matches operator nodes, not text
    path = str(tmp_path / "one_file")
    spark.range(1000).withColumn(col, F.col("id") % 7).coalesce(1).write.parquet(path)
    df = spark.read.parquet(path)
    assert len(df.inputFiles()) == 1
    out = fan_out(df, "id")
    # local[4] session -> defaultParallelism 4, but minimum floor is 8
    assert out.rdd.getNumPartitions() >= 8
    # fan-out is a pure repartition: same rows
    assert out.count() == 1000


@pytest.mark.parametrize("col", ["JoinDate", "SortKey"])
def test_fan_out_skips_real_shuffle_with_operator_named_column(spark, tmp_path, col):
    path = str(tmp_path / "one_file")
    spark.range(1000).withColumn(col, F.col("id") % 7).coalesce(1).write.parquet(path)
    df = spark.read.parquet(path)
    agg = df.groupBy(col).count()
    assert fan_out(agg, col) is agg
    joined = df.join(df.withColumnRenamed("id", "id2"), col)
    assert fan_out(joined, col) is joined


def test_fan_out_noop_when_files_cover_cores(spark, tmp_path):
    path = str(tmp_path / "many_files")
    spark.range(1000).repartition(16).write.parquet(path)
    df = spark.read.parquet(path)
    assert len(df.inputFiles()) >= 8
    out = fan_out(df, "id")
    # no Exchange inserted: the plan is the bare scan
    assert "Exchange" not in out._jdf.queryExecution().executedPlan().toString()


def test_fan_out_handles_non_file_source(spark):
    # range() has no input files -> conservative fan-out, not a crash
    out = fan_out(spark.range(100))
    assert out.count() == 100
    assert out.rdd.getNumPartitions() >= 8


def test_fan_out_never_shrinks_widened_frame(spark):
    # a caller-repartitioned frame already has chosen width; fan_out
    # must not re-shuffle it down to the parallelism floor
    df = spark.range(1000).repartition(64, "id")
    out = fan_out(df, "id")
    assert out is df
    assert out.rdd.getNumPartitions() == 64


def test_fan_out_skips_post_shuffle_frames(spark):
    # a frame downstream of a join/agg has shuffle-determined width —
    # fanning out again would only add a useless exchange
    base = spark.range(1000).withColumn("k", F.col("id") % 7)
    agg = base.groupBy("k").count()
    assert fan_out(agg, "k") is agg
    joined = base.join(base.withColumnRenamed("id", "id2"), "k")
    assert fan_out(joined, "k") is joined
