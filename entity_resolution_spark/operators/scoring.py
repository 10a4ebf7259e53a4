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
    """pairs(id_1, id_2) x features -> scored pairs, in two phases.

    Phase 1 attaches only (fingerprint, minhash_sig) — ~0.5 KB/side vs
    multi-KB shingle arrays — and gates on the MinHash Jaccard
    ESTIMATE. Phase 2 re-joins the full payload (shingles, title,
    prefix) for the small survivor set and computes the exact score
    with the single-phase formula. At web scale this cuts the
    dominant pair-join shuffle by the candidate/survivor ratio
    (typically 10-100x) and keeps the Arrow-batched UDFs off the
    non-survivor stream entirely (a `when()` guard does NOT stop Spark
    evaluating a Python UDF on every row — only a filter does).

    Scores equal the single-phase reference scorer's (kept in
    tests/test_pipeline_e2e.py) for every pair passing the estimate
    gate; sub-gate pairs get score = est * w_jaccard, which is
    below any usable threshold by construction (est < gate_est).
    """
    from entity_resolution_spark.functions.similarity import minhash_jaccard_estimate
    from entity_resolution_spark.operators.pairs import attach_features

    # AQE coalesces shuffles toward ~64MB partitions — right for IO,
    # wrong for the CPU-bound estimate/similarity stages (a 16M-pair
    # stream lands on a handful of cores). Fan compute out explicitly
    # and UNCONDITIONALLY: AQE's runtime coalescing cannot be observed
    # at plan time, and probing .rdd.getNumPartitions() forces RDD
    # conversion of the analyzed plan (round-2 advisory). The streams
    # being spread are narrow pair ids (~16 B/row), so the explicit
    # shuffle is cheap, and user repartition() is exempt from AQE
    # coalescing — exactly the guarantee the CPU stages need.
    par = pairs.sparkSession.sparkContext.defaultParallelism

    # Phase-1 and phase-2 attach different projections (narrow
    # fingerprint+signature vs wide shingles+title+prefix), so the
    # broadcast choice is made PER ATTACH. The phase-2 size is a
    # conservative upper bound (full feature table, though only the
    # survivor slice actually joins) — it errs toward the shuffle join
    # at scale, never toward an executor OOM.
    bcast_p1 = broadcastable(features, ["fingerprint", "minhash_sig"])
    bcast_p2 = broadcastable(features, ["shingles", "norm_title", "text_prefix"])
    p1 = (
        attach_features(
            pairs.repartition(par * 2, "id_1", "id_2"),
            features,
            cols=["fingerprint", "minhash_sig"],
            broadcast=bcast_p1,
        )
        .select(
            "id_1",
            "id_2",
            F.col("fingerprint_1").eqNullSafe(F.col("fingerprint_2")).alias("exact_dup"),
            minhash_jaccard_estimate(
                F.col("minhash_sig_1"), F.col("minhash_sig_2")
            ).alias("jaccard_est"),
        )
    )
    # Both branches below read p1 — materialize it ONCE, eagerly: in a
    # single downstream action the cheap/full union branches would
    # otherwise race to recompute the pair join, and AQE would plan the
    # survivor joins without size stats (observed 5x slowdown).
    # localCheckpoint (not persist): blocks are freed automatically by
    # the ContextCleaner once the result goes out of scope, so repeated
    # calls don't accumulate session-lifetime cache (round-1 advisory).
    p1 = p1.localCheckpoint(eager=True)
    needs_full = (~F.col("exact_dup")) & (F.col("jaccard_est") >= cfg.gate_est)

    cheap = p1.filter(~needs_full).select(
        "id_1",
        "id_2",
        "exact_dup",
        "jaccard_est",
        F.when(F.col("exact_dup"), F.lit(1.0)).otherwise(F.col("jaccard_est")).alias(
            "jaccard_shingles"
        ),
        F.lit(0.0).alias("jw_title"),
        F.lit(0.0).alias("lev_ratio_prefix"),
        F.when(F.col("exact_dup"), F.lit(1.0))
        .otherwise(F.col("jaccard_est") * cfg.w_jaccard)
        .alias("score"),
    )

    surv = p1.filter(needs_full).select(
        "id_1", "id_2", "exact_dup", "jaccard_est"
    ).repartition(par, "id_1", "id_2")
    # Only survivors' features are needed in phase 2 — semi-join the
    # feature table down first. At web scale the full feature table is
    # never broadcastable; the survivor slice usually is.
    surv_ids = (
        surv.select(F.col("id_1").alias("url_id"))
        .unionByName(surv.select(F.col("id_2").alias("url_id")))
        .dropDuplicates(["url_id"])
    )
    if bcast_p2:
        surv_ids = F.broadcast(surv_ids)
    feats_sub = features.join(surv_ids, "url_id", "left_semi")
    wide = attach_features(
        surv,
        feats_sub,
        cols=["shingles", "norm_title", "text_prefix"],
        broadcast=bcast_p2,
    )
    jac = token_jaccard(F.col("shingles_1"), F.col("shingles_2")).alias("jaccard_shingles")
    sim_cond = F.col("jaccard_shingles") >= cfg.cheap_gate
    full = (
        wide.select(
            "id_1",
            "id_2",
            "exact_dup",
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
            "id_1", "id_2", "exact_dup", "jaccard_est",
            "jaccard_shingles", "jw_title", "lev_ratio_prefix", "score",
        )
    )
    return cheap.unionByName(full)


def deterministic_match_pass(
    pairs: DataFrame, features: DataFrame, broadcast: bool = True,
    materialize: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Reference stage-6 structure (Orchestrate_Demo.py:305-360;
    deterministicAlgorithm mlir.py:1324-1554): a cheap deterministic
    rule pass emits its matches as edges FIRST, and those pairs are
    NOT-EXISTS-subtracted from the candidate stream before the
    expensive probabilistic scorer ever sees them.

    Here the deterministic rule is exact content-fingerprint equality
    (the web analog of the reference's shared-device-id rule). Only the
    8-byte fingerprint rides this pair join — far cheaper than the
    phase-1 attach — and every subtracted pair skips the MinHash
    estimate, the semi-join slice, and the Arrow UDFs entirely.

    Returns (det_edges(src, dst), remaining_pairs(id_1, id_2)).
    Components are unchanged vs scoring those pairs (an exact pair
    always scored 1.0 >= threshold); tested by equivalence in
    tests/test_pipeline_e2e.py.
    """
    from entity_resolution_spark.operators.pairs import attach_features

    tagged = attach_features(pairs, features, cols=["fingerprint"], broadcast=broadcast)
    if materialize:
        # both returned frames filter this attach; without
        # materialization the pair join runs TWICE in the consumer's
        # final plan (ReusedExchange covers the shuffle, not the
        # broadcast-join map work — measured ~2.8s of a 13s sf0.1 core
        # run). Eager by necessity: under AQE even a LAZY
        # localCheckpoint materializes the exchanges at RDD-conversion
        # time (measured: identical job count), so deferring buys
        # nothing — instead callers that won't consume the result must
        # not call this at all (pipeline.run skips the pass when the
        # components checkpoint is already complete). The frame is
        # narrow (ids + two 8-byte fingerprints); at 10^10+-pair scale
        # where even that is too much to pin, pass materialize=False
        # and pay the recompute.
        tagged = tagged.localCheckpoint(eager=True)
    # eqNullSafe keeps the split an exact PARTITION: with a plain `==`,
    # a pair with any null fingerprint is NULL under both `same` and
    # `~same` and silently vanishes from det_edges AND remaining
    # (round-2 advisory). Null-null pairs (both pages extracted to
    # null text) are identical sentinel content -> deterministic match,
    # matching scoring's eqNullSafe exact_dup (score 1.0).
    same = F.col("fingerprint_1").eqNullSafe(F.col("fingerprint_2"))
    det_edges = tagged.filter(same).select(
        F.col("id_1").alias("src"), F.col("id_2").alias("dst")
    )
    remaining = tagged.filter(~same).select("id_1", "id_2")
    return det_edges, remaining


def edges_from_scores(scored: DataFrame, threshold: float) -> DataFrame:
    """score >= threshold -> edges(src, dst). (Reference P6 pattern.)"""
    return scored.filter(F.col("score") >= threshold).select(
        F.col("id_1").alias("src"), F.col("id_2").alias("dst")
    )
