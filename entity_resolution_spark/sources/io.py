"""Table IO — parquet locally, Iceberg when the runtime has the jars.

Reference parity: replaces the Snowflake connector surface
(reference mlir.py:11-167 — read/write/DDL/table-exists/freshness)
with catalog- and parquet-backed equivalents. Iceberg is gated behind
a capability probe (the test image ships no Iceberg runtime jar).
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
            "org.apache.iceberg.spark.source.IcebergSource"
        )
        return True
    except Exception:
        return False


def read_table(spark: SparkSession, location: str) -> DataFrame:
    """Read a table by path (parquet dir) or catalog name (db.table)."""
    if "/" in location:
        return spark.read.parquet(location)
    return spark.table(location)


def write_table(df: DataFrame, location: str, mode: str = "overwrite") -> None:
    """Write by path (parquet) or catalog name (Iceberg writeTo when
    available, saveAsTable otherwise). Reference S2, mlir.py:73-74."""
    if "/" in location:
        df.write.mode(mode).parquet(location)
        return
    spark = df.sparkSession
    if iceberg_available(spark):
        writer = df.writeTo(location)
        if mode == "overwrite":
            writer.createOrReplace()
        else:
            writer.append()
    else:
        df.write.mode(mode).saveAsTable(location)


DDL_VERBS = ("create", "drop", "alter", "insert", "truncate", "merge", "delete", "update")


def run_ddl(spark: SparkSession, sql: str) -> DataFrame:
    """Explicit DDL/DML runner — reference S3 (run_snowflake_query /
    alter_snowflake_table, mlir.py:83-126): the reference dispatches on
    the statement verb before shipping it to the warehouse; here the
    same guard fronts spark.sql against the session catalog. Returns
    the (usually empty) result DataFrame."""
    verb = sql.strip().split(None, 1)[0].lower() if sql.strip() else ""
    if verb not in DDL_VERBS:
        raise ValueError(
            f"run_ddl only executes {DDL_VERBS} statements, got {verb!r} — "
            "use read_table/DataFrame ops for queries"
        )
    return spark.sql(sql)


def merge_upsert(
    spark: SparkSession, target: str, batch: DataFrame, key_cols: list[str]
) -> None:
    """Atomic MERGE INTO for catalog tables (Iceberg): insert batch
    rows whose key is not yet present; existing rows are untouched —
    the reference's NOT-EXISTS incremental insert (mlir.py:2082-2095)
    as one snapshot-isolated statement (north_rule incrementality).

    Requires an Iceberg (or other MERGE-capable) catalog; without one
    use operators.incremental.merge_entities (anti-join + unionByName),
    which has the same semantics sans atomicity."""
    if not iceberg_available(spark):
        raise RuntimeError(
            "MERGE INTO needs an Iceberg runtime; use "
            "entity_resolution_spark.operators.incremental.merge_entities instead"
        )
    batch.createOrReplaceTempView("_merge_batch")
    cond = " AND ".join(f"t.{k} = s.{k}" for k in key_cols)
    spark.sql(
        f"MERGE INTO {target} t USING _merge_batch s ON {cond} "
        "WHEN NOT MATCHED THEN INSERT *"
    )


def table_exists(spark: SparkSession, location: str) -> bool:
    """Reference S5 (mlir.py:128-141) — existence + non-emptiness. Only
    a missing path reads as absent: any other read error (a corrupt or
    unreadable table) propagates rather than passing for 'no table'."""
    if "/" in location:
        try:
            df = spark.read.parquet(location)
        except AnalysisException as e:
            if e.getCondition() == "PATH_NOT_FOUND":
                return False
            raise
        return len(df.take(1)) > 0
    return spark.catalog.tableExists(location)


def freshness_ok(df: DataFrame, ts_col: str = "warc_ts") -> bool:
    """Reference S6 (mlir.py:145-167): max(ts) >= today."""
    row = df.select(F.max(F.col(ts_col)).cast("date").alias("d")).first()
    if row is None or row["d"] is None:
        return False
    today = df.sparkSession.sql("SELECT current_date() AS d").first()["d"]
    return row["d"] >= today


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist df as a BUCKETED catalog table: rows are hash-
    distributed into n_buckets files by bucket_cols, and the bucketing
    is recorded in catalog metadata — so every later join or
    aggregation keyed on bucket_cols reads the table SHUFFLE-FREE
    (both sides of a same-bucketing join are already co-located; the
    scan reports the hash distribution and Catalyst drops the
    Exchange). This is the pre-shuffle trade: pay the distribution
    once at write time, skip it on every subsequent read — the right
    call for tables joined repeatedly on a stable key (the entity
    table on url_id, the feature table on url_id).

    The repartition before the write makes each task hold exactly one
    bucket -> one file per bucket (without it every task writes up to
    n_buckets files: small-file explosion at cluster width).
    sort_cols additionally sorts within each bucket (sort-merge joins
    then skip the sort too). path=None stores under the session
    warehouse dir; a path makes it an external table.

    Plain parquet paths can't carry bucketing metadata — this is the
    one surface that REQUIRES saveAsTable (catalog), which is why
    write_table doesn't subsume it."""
    if n_buckets < 1:
        raise ValueError(f"write_bucketed: n_buckets must be >= 1, got {n_buckets}")
    writer = (
        df.repartition(n_buckets, *[F.col(c) for c in bucket_cols])
        .write.mode(mode)
        .bucketBy(n_buckets, *bucket_cols)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def write_training_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    id_col: str,
    max_records_per_file: int = 0,
    mode: str = "overwrite",
) -> None:
    """Write df as `path/shard=K/` parquet, K = pmod(xxhash64(id),
    n_shards) — the layout training loaders want: any shard subset is
    a uniform, DETERMINISTIC sample of the corpus, and a row's shard
    never changes when the corpus is re-partitioned or re-written
    (pure function of the id, like operators.sampling splits).

    One repartition on the shard key co-locates each shard into one
    task -> one file per shard (bounded file count at any corpus
    size); `max_records_per_file` > 0 lets Spark split oversized
    shards into multiple files. Skew note: shards are hash-uniform by
    construction, so the repartition cannot be skewed.
    """
    if n_shards < 1:
        raise ValueError(f"write_training_shards: n_shards must be >= 1, got {n_shards}")
    sharded = df.withColumn(
        "shard", F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(n_shards))
    )
    writer = sharded.repartition(n_shards, "shard").write.mode(mode).partitionBy("shard")
    if max_records_per_file > 0:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.parquet(path)
