"""Stage 6 — pairwise scoring: cheap gates first, expensive similarity
only on survivors.

Reference parity: the reference featurizes every candidate pair with
~24 per-row-UDF similarity columns and thresholds an XGBoost
probability at 0.75 (mlir.py:1575-1808, Orchestrate_Demo.py:378). This
engine scores with a closed-form weighted similarity — exact-fingerprint
gate, then native token-set Jaccard + Levenshtein-ratio + Arrow-batched
Jaro-Winkler on the title — thresholded to edges. The cheap-first
gating mirrors the reference's either_null short-circuit
(mlir.py:1636-1642) and the NOT-EXISTS removal of already-matched
pairs (Orchestrate_Demo.py:360).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from entity_resolution_spark.functions.similarity import (
    jaro_winkler,
    levenshtein_ratio,
    minhash_verify_gate,
    token_jaccard,
)
from entity_resolution_spark.util import broadcast_budget


@dataclass(frozen=True)
class ScoringConfig:
    w_jaccard: float = 0.6
    w_title_jw: float = 0.25
    w_prefix_lev: float = 0.15
    threshold: float = 0.42
    cheap_gate: float = 0.20  # skip expensive sims below this Jaccard
    # MinHash permutations in the signature this config will gate on —
    # must equal FeatureConfig.num_perm (pipeline asserts).
    num_perm: int = 64
    # phase-1 estimate-gate margin in sigmas (see gate_est).
    gate_sigmas: float = 3.0

    @property
    def min_matchable_jaccard(self) -> float:
        """Smallest exact shingle-Jaccard a matching pair can have,
        taking the minimum over the score formula's two branches:

        - j < cheap_gate: JW/Levenshtein are hard-zeroed, score =
          w_jaccard*j — matches iff j >= threshold/w_jaccard.
        - j >= cheap_gate: a pair with perfect title+prefix scores
          w_jaccard*j + w_title_jw + w_prefix_lev — matches for any
          j >= max(cheap_gate, (threshold - w_title_jw -
          w_prefix_lev)/w_jaccard).

        The overall bound is min() of the two branch minima. With the
        defaults the second branch binds (0.25); the first matters
        when cheap_gate > threshold/w_jaccard — there, sub-cheap_gate
        pairs can still match on jaccard alone, and taking only
        max(cheap_gate, by_score) (the pre-round-3 formula) would set
        the phase-1 estimate gate ABOVE true edges, silently dropping
        them in two-phase scoring (round-3 review finding).
        """
        by_score = (self.threshold - self.w_title_jw - self.w_prefix_lev) / self.w_jaccard
        by_jaccard_alone = self.threshold / self.w_jaccard
        return min(max(self.cheap_gate, by_score), by_jaccard_alone)

    @property
    def gate_est(self) -> float:
        """Phase-1 gate on the MinHash Jaccard ESTIMATE: the minimum
        matchable exact Jaccard minus gate_sigmas binomial standard
        deviations of the num_perm-sample estimator, floored at 0.

        With defaults (j_min=0.20, 64 perms, 3 sigma): 0.20 - 3*0.05 =
        0.05. A pair at exactly j_min slips under the gate with
        P[Bin(64,0.2) <= 3] ~ 4e-4; above j_min the tail probability
        decays exponentially, so two-phase edges match single-phase
        edges except on that vanishing boundary set (equivalence tested
        on the seeded corpus in tests/test_pipeline_e2e.py).
        """
        return minhash_verify_gate(self.min_matchable_jaccard, self.num_perm, self.gate_sigmas)


def _plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's optimized-plan size estimate, or None when the plan
    carries the unknown-size sentinel (RDD-backed frames without origin
    stats default to spark.sql.defaultSizeInBytes = Long.MaxValue)."""
    try:
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        size = int(str(stats.sizeInBytes()))
    except Exception:  # Connect, or a plan that won't optimize dry
        return None
    if 0 < size < (1 << 56):
        return size
    return None


def broadcastable(features: DataFrame, cols: list[str]) -> bool:
    """Whether `features` projected to (url_id, *cols) — the side
    attach_features would broadcast — fits the session's
    spark.sql.autoBroadcastJoinThreshold by Catalyst's own size
    estimate. An unknown size is not broadcast, as in Spark's planner;
    a threshold of -1 disables broadcasting."""
    size = _plan_size_bytes(features.select("url_id", *cols))
    if size is None:
        return False
    return size <= broadcast_budget(features.sparkSession)


def score_pairs_two_phase(
    pairs: DataFrame, features: DataFrame, cfg: ScoringConfig = ScoringConfig()
) -> DataFrame:
    """remaining(id_1, id_2, jaccard_est) from deterministic_match_pass
    x features -> scored pairs: the estimate gate, then phase 2.

    Only pairs whose MinHash Jaccard estimate is at least gate_est are
    scored and returned; the rest are non-matches. With gate_sigmas >=
    0 (the pipeline checks it), gate_est <= min_matchable_jaccard, and
    gate_est's docstring bounds how often a matching pair's estimate
    falls under it.

    Phase 2 attaches the full payload (shingles, title, prefix) to the
    survivors and computes the exact score with the single-phase
    formula, so the Arrow-batched UDFs never see a non-survivor (a
    `when()` guard does NOT stop Spark evaluating a Python UDF on
    every row — only a filter does). Scores equal the single-phase
    reference scorer's (kept in tests/test_pipeline_e2e.py) for every
    survivor.

    `exact_dup` is False on every row: exact-fingerprint pairs left as
    deterministic edges in phase 1. The column stays in the 06_scored
    stage schema, which perfbench's tracer reads.
    """
    from entity_resolution_spark.operators.pairs import attach_features

    par = pairs.sparkSession.sparkContext.defaultParallelism
    # a user repartition is exempt from AQE coalescing (see
    # deterministic_match_pass): the survivors' UDF work spans every core
    surv = pairs.filter(F.col("jaccard_est") >= cfg.gate_est).repartition(
        par, "id_1", "id_2"
    )
    cols = ["shingles", "norm_title", "text_prefix"]
    wide = attach_features(surv, features, cols=cols, broadcast=broadcastable(features, cols))
    jac = token_jaccard(F.col("shingles_1"), F.col("shingles_2")).alias("jaccard_shingles")
    sim_cond = F.col("jaccard_shingles") >= cfg.cheap_gate
    return (
        wide.select(
            "id_1",
            "id_2",
            "jaccard_est",
            jac,
            F.col("norm_title_1"),
            F.col("norm_title_2"),
            F.col("text_prefix_1"),
            F.col("text_prefix_2"),
        )
        .withColumn(
            "jw_title",
            # the UDF still runs on every survivor (see the docstring);
            # kept: a filter-plus-union would attach the wide features
            # twice, and the vectorized JW costs little per survivor
            F.when(
                sim_cond, jaro_winkler(F.col("norm_title_1"), F.col("norm_title_2"))
            ).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "lev_ratio_prefix",
            F.when(
                sim_cond, levenshtein_ratio(F.col("text_prefix_1"), F.col("text_prefix_2"))
            ).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "score",
            F.col("jaccard_shingles") * cfg.w_jaccard
            + F.col("jw_title") * cfg.w_title_jw
            + F.col("lev_ratio_prefix") * cfg.w_prefix_lev,
        )
        .select(
            "id_1", "id_2", F.lit(False).alias("exact_dup"), "jaccard_est",
            "jaccard_shingles", "jw_title", "lev_ratio_prefix", "score",
        )
    )


def deterministic_match_pass(
    pairs: DataFrame, features: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Scoring's phase 1: one pass over the candidate pairs.

    Reference stage-6 structure (Orchestrate_Demo.py:305-360;
    deterministicAlgorithm mlir.py:1324-1554): a cheap deterministic
    rule pass emits its matches as edges FIRST, and those pairs are
    NOT-EXISTS-subtracted from the candidate stream before the
    expensive probabilistic scorer ever sees them. Here the rule is
    exact content-fingerprint equality (the web analog of the
    reference's shared-device-id rule).

    Only (fingerprint, minhash_sig) — ~0.5 KB/side vs multi-KB shingle
    arrays — is attached to every candidate, once, for both cheap
    filters: the exact-match rule and the MinHash Jaccard estimate
    that score_pairs_two_phase gates on, so the wide payload rides
    only the (typically 10-100x smaller) survivor stream.

    Returns (det_edges(src, dst), remaining(id_1, id_2, jaccard_est)),
    an exact partition of the input pairs. Components are unchanged vs
    scoring the exact pairs (the single-phase formula scores them 1.0
    >= threshold); tested in tests/test_pipeline_e2e.py.
    """
    from entity_resolution_spark.functions.similarity import minhash_jaccard_estimate
    from entity_resolution_spark.operators.pairs import attach_features

    # AQE coalesces shuffles toward ~64MB partitions — right for IO,
    # wrong for the CPU-bound estimate/similarity stages (a 16M-pair
    # stream lands on a handful of cores). Fan out UNCONDITIONALLY:
    # AQE's runtime coalescing cannot be observed at plan time, the
    # narrow pair ids (~16 B/row) shuffle cheaply, and a user
    # repartition() is exempt from AQE coalescing.
    par = pairs.sparkSession.sparkContext.defaultParallelism
    cols = ["fingerprint", "minhash_sig"]
    tagged = attach_features(
        pairs.repartition(par * 2, "id_1", "id_2"),
        features,
        cols=cols,
        # sized per run (round-4 verdict: a fixed broadcast OOMs at scale)
        broadcast=broadcastable(features, cols),
    ).select(
        "id_1",
        "id_2",
        # eqNullSafe keeps the split an exact PARTITION: with a plain
        # `==`, a pair with any null fingerprint is NULL under both
        # `exact_dup` and `~exact_dup` and silently vanishes from
        # det_edges AND remaining (round-2 advisory). Null-null pairs
        # (both pages extracted to null text) are identical sentinel
        # content -> deterministic match.
        F.col("fingerprint_1").eqNullSafe(F.col("fingerprint_2")).alias("exact_dup"),
        minhash_jaccard_estimate(F.col("minhash_sig_1"), F.col("minhash_sig_2")).alias(
            "jaccard_est"
        ),
    )
    # Both returned frames filter this attach — materialize it ONCE:
    # else the pair join's map work reruns per consumer, and AQE plans
    # the survivor join without size stats (observed 5x slowdown). Eager,
    # because under AQE even a lazy localCheckpoint runs the exchanges
    # at RDD conversion; callers that won't consume the result must not
    # call this (pipeline.scored skips it on a full resume).
    # localCheckpoint, not persist: the ContextCleaner frees the blocks
    # once the result goes out of scope (round-1 advisory).
    tagged = tagged.localCheckpoint(eager=True)
    det_edges = tagged.filter(F.col("exact_dup")).select(
        F.col("id_1").alias("src"), F.col("id_2").alias("dst")
    )
    remaining = tagged.filter(~F.col("exact_dup")).select("id_1", "id_2", "jaccard_est")
    return det_edges, remaining


def edges_from_scores(scored: DataFrame, threshold: float) -> DataFrame:
    """score >= threshold -> edges(src, dst). (Reference P6 pattern.)"""
    return scored.filter(F.col("score") >= threshold).select(
        F.col("id_1").alias("src"), F.col("id_2").alias("dst")
    )
