"""Trained pairwise classifier (reference probabilisticAlgorithm
parity): fit on labeled candidate pairs, thresholded probability,
model save/load roundtrip (reference S8/F19)."""

from __future__ import annotations

from pyspark.sql import functions as F

from entity_resolution_spark.operators.ml_scoring import (
    load_model,
    predict_pairs,
    save_model,
    train_pair_classifier,
)
from entity_resolution_spark.operators.pairs import candidate_pairs
from entity_resolution_spark.operators.scoring import deterministic_match_pass
from entity_resolution_spark.plans.pipeline import EntityResolutionPipeline


def _labeled_scored(spark, corpus):
    pages, labels, _ = corpus
    pipe = EntityResolutionPipeline()
    feats = pipe.featurize(pages)
    blocks, _ = pipe.block(feats)
    pairs = candidate_pairs(blocks)
    # exact-fingerprint pairs leave as deterministic edges; the
    # classifier learns on the pairs scoring returns, the estimate-gate
    # survivors
    _, remaining = deterministic_match_pass(pairs, feats)
    scored = pipe.score(remaining, feats)
    ids = feats.select("url", "url_id")
    lab = (
        labels.join(
            ids.select(F.col("url").alias("url_1"), F.col("url_id").alias("uid_1")), "url_1"
        )
        .join(ids.select(F.col("url").alias("url_2"), F.col("url_id").alias("uid_2")), "url_2")
        .select(
            F.least("uid_1", "uid_2").alias("id_1"),
            F.greatest("uid_1", "uid_2").alias("id_2"),
            "is_match",
        )
    )
    # labeled pairs restricted to shared-blocking-key candidates — the
    # reference's own evaluation protocol (README.md:133)
    return scored.join(lab, ["id_1", "id_2"]).cache()


def test_classifier_f1_and_roundtrip(spark, corpus, tmp_path):
    train = _labeled_scored(spark, corpus)
    assert train.filter(F.col("is_match") == 1).count() > 10
    model = train_pair_classifier(train)
    pred = predict_pairs(model, train, threshold=0.5)
    agg = pred.agg(
        F.sum((F.col("prediction") * F.col("is_match"))).alias("tp"),
        F.sum((F.col("prediction") * (1 - F.col("is_match")))).alias("fp"),
        F.sum(((1 - F.col("prediction")) * F.col("is_match"))).alias("fn"),
    ).first()
    tp, fp, fn = agg["tp"] or 0, agg["fp"] or 0, agg["fn"] or 0
    prec = tp / max(tp + fp, 1)
    rec = tp / max(tp + fn, 1)
    f1 = 2 * prec * rec / max(prec + rec, 1e-9)
    assert f1 >= 0.98, f"classifier F1 {f1:.4f} (p={prec:.3f}, r={rec:.3f})"

    # probabilities are calibrated probabilities, not raw scores
    probs = pred.select("match_prob").toPandas()["match_prob"]
    assert probs.between(0, 1).all()

    # S8: save -> load -> identical predictions
    path = str(tmp_path / "pair_model")
    save_model(model, path)
    reloaded = load_model(path)
    a = {(r["id_1"], r["id_2"]): r["prediction"] for r in pred.collect()}
    b = {
        (r["id_1"], r["id_2"]): r["prediction"]
        for r in predict_pairs(reloaded, train, threshold=0.5).collect()
    }
    assert a == b


def test_xgboost_estimator_gated(spark, corpus):
    """Reference estimator parity (SparkXGBClassifier, mlir.py:1752-
    1765), import-gated like the Iceberg surface: without the package
    the call must raise with guidance (not silently fall back); with
    it, the fit/predict surface is identical to the logistic path."""
    import pytest

    from entity_resolution_spark.operators.ml_scoring import (
        predict_pairs,
        train_pair_classifier,
        xgboost_available,
    )

    train = _labeled_scored(spark, corpus)
    if not xgboost_available():
        with pytest.raises(RuntimeError, match="xgboost"):
            train_pair_classifier(train, estimator="xgboost")
        pytest.skip("no xgboost package in this image")
    model = train_pair_classifier(train, estimator="xgboost")
    out = predict_pairs(model, train)
    assert {"match_prob", "prediction"} <= set(out.columns)
    assert out.filter((F.col("match_prob") < 0) | (F.col("match_prob") > 1)).count() == 0
