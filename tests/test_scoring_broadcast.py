"""Size-based broadcast decision for the pair<->feature attach joins
(round-4 verdict: a fixed broadcast default is wrong-by-default at
100 TB — a run that pins it OOMs executors broadcasting the projected
shingle arrays; the strategy must be chosen per run from the payload
size). The budget is the session's spark.sql.autoBroadcastJoinThreshold."""

from __future__ import annotations

import contextlib

import pytest

from entity_resolution_spark.operators.pairs import candidate_pairs
from entity_resolution_spark.operators.scoring import (
    ScoringConfig,
    _plan_size_bytes,
    broadcastable,
    deterministic_match_pass,
    score_pairs_two_phase,
)
from entity_resolution_spark.plans.pipeline import EntityResolutionPipeline

@pytest.fixture(scope="module")
def feats_and_pairs(spark, corpus):
    pages, _, _ = corpus
    pipe = EntityResolutionPipeline()
    feats = pipe.featurize(pages).localCheckpoint(eager=True)
    blocks, _ = pipe.block(feats)
    pairs = candidate_pairs(blocks).localCheckpoint(eager=True)
    return feats, pairs


@contextlib.contextmanager
def _broadcast_threshold(spark, value: str):
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def test_estimate_positive_and_monotone_in_width(feats_and_pairs):
    feats, _ = feats_and_pairs
    narrow = _plan_size_bytes(feats.select("url_id", "fingerprint"))
    wide = _plan_size_bytes(feats.select("url_id", "shingles", "norm_title", "text_prefix"))
    assert narrow is not None and wide is not None
    assert 0 < narrow < wide  # shingle arrays dominate the payload


def test_broadcastable_follows_session_threshold(spark, feats_and_pairs):
    feats, _ = feats_and_pairs
    cols = ["fingerprint", "minhash_sig"]
    with _broadcast_threshold(spark, "1"):
        assert broadcastable(feats, cols) is False
    with _broadcast_threshold(spark, str(1 << 40)):
        assert broadcastable(feats, cols) is True
    with _broadcast_threshold(spark, "-1"):
        assert broadcastable(feats, cols) is False


def test_unknown_size_is_not_broadcast(spark):
    # an RDD-backed frame with no origin stats carries Spark's
    # unknown-size sentinel (defaultSizeInBytes)
    feats = spark.sparkContext.parallelize([(1, "a")]).toDF(["url_id", "fingerprint"])
    assert _plan_size_bytes(feats) is None
    with _broadcast_threshold(spark, str(1 << 40)):
        assert broadcastable(feats, ["fingerprint"]) is False


def test_auto_plan_is_smj_above_threshold_broadcast_below(spark, feats_and_pairs):
    """Plan inspection (same style as the bucketed-write Exchange-free
    assert): above the session threshold the attaches must NOT be
    pinned to broadcast — the static plan keeps shuffle joins; below,
    BroadcastHashJoin is planned. Either way the scores are equal."""
    feats, pairs = feats_and_pairs
    cols = ["id_1", "id_2", "score"]

    def score():
        det, remaining = deterministic_match_pass(pairs, feats)
        return det, score_pairs_two_phase(remaining, feats, ScoringConfig())

    with _broadcast_threshold(spark, "1"):
        det_over, over = score()
        plan_over = over._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan_over, plan_over
        a = {tuple(r) for r in over.select(*cols).collect()}
        a_det = {tuple(r) for r in det_over.collect()}
    with _broadcast_threshold(spark, str(1 << 40)):
        det_under, under = score()
        plan_under = under._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan_under, plan_under
        b = {tuple(r) for r in under.select(*cols).collect()}
        b_det = {tuple(r) for r in det_under.collect()}
    # strategy choice must not change results
    assert a == b
    assert a_det == b_det
