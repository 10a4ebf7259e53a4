"""Stage checkpoints with per-partition lineage + metrics manifests.

The reference gets durability for free because every stage writes a
Snowflake table (Orchestrate_Demo.py stage boundaries). This module
formalizes that: each stage writes parquet + a JSON manifest holding
row count, schema, per-partition row counts (lineage: rows per written
part file, summed by the partition index in its name), and the
upstream fingerprint. ``resume`` skips stages whose manifest matches —
kill the job after stage k, rerun, and stages 1..k are read back
instead of recomputed (north_rule: "resumable from checkpoint with
per-partition lineage + metrics").

The manifest is built from the parquet footers of the files the write
just produced (row counts, and the Spark schema Spark stores in each
footer), read on the driver: the write is the stage's only Spark job,
and reads take the schema from the manifest instead of inferring it.
"""

from __future__ import annotations

import json
import os
import re
import time

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

MANIFEST_NAME = "_STAGE_MANIFEST.json"
# footer key under which Spark's parquet writer stores the row schema
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"
# part-<partition index>-<write uuid>-c<file number>[.<codec>].parquet
_PART_FILE = re.compile(r"part-(\d+)-.*\.parquet$")


class StageCheckpointer:
    def __init__(self, spark: SparkSession, root: str, pipeline_fingerprint: str = ""):
        self.spark = spark
        self.root = root
        self.fingerprint = pipeline_fingerprint
        os.makedirs(root, exist_ok=True)

    def _stage_dir(self, stage: str) -> str:
        return os.path.join(self.root, stage)

    def _manifest_path(self, stage: str) -> str:
        return os.path.join(self._stage_dir(stage), MANIFEST_NAME)

    def is_complete(self, stage: str) -> bool:
        path = self._manifest_path(stage)
        if not os.path.exists(path):
            return False
        with open(path) as f:
            m = json.load(f)
        return m.get("complete", False) and m.get("pipeline_fingerprint") == self.fingerprint

    def write(self, df: DataFrame, stage: str) -> DataFrame:
        """Materialize a stage: parquet + manifest; returns the re-read
        DataFrame (truncated lineage, stable for downstream stages)."""
        out = self._stage_dir(stage)
        df.write.mode("overwrite").parquet(out)
        per_part: dict[int, int] = {}
        schema_json = None
        for name in sorted(os.listdir(out)):
            part = _PART_FILE.fullmatch(name)
            if part is None:
                continue
            meta = pq.read_metadata(os.path.join(out, name))
            idx = int(part.group(1))
            per_part[idx] = per_part.get(idx, 0) + meta.num_rows
            schema_json = schema_json or meta.metadata[_SPARK_SCHEMA_KEY]
        if schema_json is None:
            raise RuntimeError(f"stage {stage}: the parquet write left no part file in {out}")
        # record the schema a read sees: file sources make every field nullable
        footer_schema = StructType.fromJson(json.loads(schema_json))
        read_schema = self.spark.read.schema(footer_schema).parquet(out).schema
        manifest = {
            "stage": stage,
            "complete": True,
            "pipeline_fingerprint": self.fingerprint,
            "rows": sum(per_part.values()),
            "n_partitions": len(per_part),
            "partition_lineage": {str(i): n for i, n in sorted(per_part.items())},
            "schema": read_schema.jsonValue(),
            "written_at": time.time(),
        }
        with open(self._manifest_path(stage), "w") as f:
            json.dump(manifest, f, indent=2)
        return self.read(stage)

    def read(self, stage: str) -> DataFrame:
        schema = StructType.fromJson(self.manifest(stage)["schema"])
        return self.spark.read.schema(schema).parquet(self._stage_dir(stage))

    def run_stage(self, stage: str, compute) -> DataFrame:
        """Resume-or-compute: if the stage's manifest is complete (and
        from the same pipeline config), read it back; else compute,
        checkpoint, and return."""
        if self.is_complete(stage):
            return self.read(stage)
        return self.write(compute(), stage)

    def manifest(self, stage: str) -> dict:
        with open(self._manifest_path(stage)) as f:
            return json.load(f)
