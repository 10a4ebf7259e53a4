"""The 10-stage entity-resolution pipeline (SURVEY.md §7.1).

pages → extract → normalize → features → block → pairs → score →
edges → cluster → stamp [→ incremental merge], with optional
per-stage checkpointing (resume-from-failure) and a metrics side
channel that holds the blocking-key stats.

Each stage is a pure DataFrame→DataFrame function from the operator
modules; this module only sequences them — there is no hidden state,
so the whole plan stays visible to Catalyst until a checkpoint
materializes it.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from entity_resolution_spark.extract import extract
from entity_resolution_spark.features import FeatureConfig, build_features
from entity_resolution_spark.normalize import normalize
from entity_resolution_spark.operators.blocking import (
    BlockingConfig,
    block_keys,
    key_stats,
    salt_hot_keys,
)
from entity_resolution_spark.operators.connected_components import connected_components
from entity_resolution_spark.operators.pairs import candidate_pairs
from entity_resolution_spark.operators.scoring import (
    ScoringConfig,
    deterministic_match_pass,
    edges_from_scores,
    score_pairs_two_phase,
)
from entity_resolution_spark.operators.stamping import stamp_entities
from entity_resolution_spark.sources.checkpoint import StageCheckpointer


@dataclass(frozen=True)
class PipelineConfig:
    features: FeatureConfig = field(default_factory=FeatureConfig)
    blocking: BlockingConfig = field(default_factory=BlockingConfig)
    scoring: ScoringConfig = field(default_factory=ScoringConfig)

    def fingerprint(self) -> str:
        return hashlib.sha256(json.dumps(asdict(self), sort_keys=True).encode()).hexdigest()[:16]


def oracle_mode_config() -> PipelineConfig:
    """Pipeline config with every output-bearing hash in the
    ANSI-SQL-reproducible md5 mode (url ids, shingles, MinHash) —
    identical plan shape to the default, so the WHOLE flagship pipeline
    can be value-checked against a DuckDB replay (see __spark_entry__
    er_pipeline_oracle). Block keys stay 64-bit xxhash64: they only
    decide which rows share a key, and the replay's string keys give
    the same partition. Slower per row (md5 + base conversion vs
    xxhash64); production runs keep the default."""
    return PipelineConfig(features=FeatureConfig(hash_mode="md5"))


class EntityResolutionPipeline:
    def __init__(self, config: PipelineConfig | None = None):
        self.config = config or PipelineConfig()
        if self.config.scoring.num_perm != self.config.features.num_perm:
            raise ValueError(
                "ScoringConfig.num_perm must match FeatureConfig.num_perm "
                f"({self.config.scoring.num_perm} != {self.config.features.num_perm}): "
                "the estimate gate is calibrated to the signature length"
            )
        if self.config.scoring.gate_sigmas < 0:
            raise ValueError(
                f"ScoringConfig.gate_sigmas must be >= 0 (got "
                f"{self.config.scoring.gate_sigmas}): a negative margin puts the "
                "estimate gate above min_matchable_jaccard, and scoring drops the "
                "pairs under the gate, so pairs that could match would be lost"
            )
        bands = self.config.blocking.bands
        rows = self.config.blocking.rows_per_band
        if bands * rows > self.config.features.num_perm:
            raise ValueError(
                f"BlockingConfig bands*rows_per_band ({bands}x{rows}) exceeds the "
                f"MinHash signature length ({self.config.features.num_perm}): bands "
                "sliced past the signature all hash the EMPTY slice to one "
                "universal key, silently pairing every same-lang record"
            )
        self.metrics: dict[str, object] = {}

    # -- stage functions (pure) ------------------------------------------
    def featurize(self, pages: DataFrame) -> DataFrame:
        # A small input (one parquet file) arrives as 1-2 partitions; the
        # extract/minhash pandas-UDF stages would then run serially no
        # matter how many cores exist. Fan out to the cluster width
        # first — hash on url, so the layout is deterministic (probe
        # via inputFiles(), never .rdd — round-2 advisory).
        from entity_resolution_spark.util import fan_out

        pages = fan_out(pages, "url")
        return build_features(
            normalize(extract(pages), hash_mode=self.config.features.hash_mode),
            self.config.features,
        )

    def block(self, feats: DataFrame) -> tuple[DataFrame, DataFrame]:
        """feats -> (blocks(url_id, block_key, band, salt), key_stats).
        The keys are counted once, eagerly: the cap, the salt and the
        04_key_stats write all read that one count."""
        cfg = self.config.blocking
        blocks = block_keys(feats, cfg)
        stats = key_stats(blocks, cfg.key_cap).localCheckpoint(eager=True)
        kept = stats.filter(F.col("status") == "kept").select("block_key", "n_records")
        capped = salt_hot_keys(blocks.join(kept, "block_key"), cfg.salt_threshold, cfg.n_salts)
        return capped, stats

    def score(self, pairs: DataFrame, feats: DataFrame) -> DataFrame:
        """Remaining pairs of deterministic_match_pass -> the estimate-gate
        survivors, scored."""
        return score_pairs_two_phase(pairs, feats, self.config.scoring)

    # -- stage groups (run() and bench.py share them) ----------------------
    # Stages are reached through self.* and module globals looked up at
    # call time, so tracing can wrap them.
    def candidates(
        self, pages: DataFrame, checkpoint_dir: str | None = None
    ) -> tuple[DataFrame, DataFrame]:
        """pages -> (feats, pairs): fan-out featurize -> feature
        materialization -> block (records metrics["key_stats"]) ->
        candidate pairs, resuming stages 03-05 from checkpoint_dir."""
        ckpt = self._checkpointer(pages.sparkSession, checkpoint_dir)
        feats = _staged(ckpt, "03_features", lambda: self.featurize(pages))
        if ckpt is None:
            # The feature table feeds ~6 subplans (block keys, both
            # sides of each attach, stamping).
            # Since the MinHash signature is now pure map-side algebra
            # (no shuffle for Spark to auto-reuse as a ReusedExchange),
            # materialize it ONCE here — the un-checkpointed analog of
            # the 03_features parquet stage write. Blocks are freed by
            # the ContextCleaner when the result is dropped.
            feats = feats.localCheckpoint(eager=True)
        # blocking + key stats (metrics: dropped-hot accounting). One
        # unit for resume: a run killed between the two writes left
        # blocks without stats, so both are recomputed unless both are
        # complete.
        if ckpt is not None and all(map(ckpt.is_complete, ("04_blocks", "04_key_stats"))):
            blocks = ckpt.read("04_blocks")
            stats = ckpt.read("04_key_stats")
        else:
            blocks, stats = self.block(feats)
            if ckpt is not None:
                blocks = ckpt.write(blocks, "04_blocks")
                stats = ckpt.write(stats, "04_key_stats")
        self.metrics["key_stats"] = stats
        pairs = _staged(ckpt, "05_pairs", lambda: candidate_pairs(blocks))
        return feats, pairs

    def scored(
        self, feats: DataFrame, pairs: DataFrame, checkpoint_dir: str | None = None
    ) -> tuple[DataFrame | None, DataFrame | None]:
        """(feats, pairs) -> (det_edges, scored): phase 1 (the
        deterministic exact-match rule and the MinHash estimate, one
        attach) -> the estimate gate and phase 2 on the remaining
        pairs, resuming stage 06 from checkpoint_dir. (None, None) when
        the components checkpoint is complete: components are then read
        from parquet, so neither output has a consumer (phase 1 eagerly
        materializes its attach, and a missing 06_scored would
        otherwise be rescored and rewritten on every resume)."""
        ckpt = self._checkpointer(feats.sparkSession, checkpoint_dir)
        if ckpt is not None and ckpt.is_complete("08_components"):
            return None, None
        det_edges, pairs = deterministic_match_pass(pairs, feats)
        return det_edges, _staged(ckpt, "06_scored", lambda: self.score(pairs, feats))

    # -- full run ---------------------------------------------------------
    def run(self, pages: DataFrame, checkpoint_dir: str | None = None) -> DataFrame:
        """pages -> entities(url, url_id, entity_id, canonical_url,
        component_size, first_seen)."""
        feats, pairs = self.candidates(pages, checkpoint_dir)
        det_edges, scored = self.scored(feats, pairs, checkpoint_dir)
        ckpt = self._checkpointer(pages.sparkSession, checkpoint_dir)
        comps = _staged(
            ckpt,
            "08_components",
            lambda: connected_components(
                edges_from_scores(scored, self.config.scoring.threshold).unionByName(det_edges)
            ),
        )
        return _staged(
            ckpt,
            "09_entities",
            lambda: stamp_entities(feats.select("url", "url_id", "warc_ts"), comps),
        )

    def _checkpointer(self, spark, checkpoint_dir: str | None) -> StageCheckpointer | None:
        if not checkpoint_dir:
            return None
        return StageCheckpointer(spark, checkpoint_dir, self.config.fingerprint())

    def collect_metrics(self) -> dict[str, int]:
        stats: DataFrame = self.metrics.get("key_stats")  # type: ignore[assignment]
        if stats is None:
            return {}
        rows = stats.groupBy("status").agg(F.count("*").alias("n")).collect()
        return {f"keys_{r['status']}": int(r["n"]) for r in rows}


def _staged(ckpt: StageCheckpointer | None, name: str, fn) -> DataFrame:
    return fn() if ckpt is None else ckpt.run_stage(name, fn)
