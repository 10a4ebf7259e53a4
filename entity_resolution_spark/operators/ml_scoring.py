"""Optional trained pairwise classifier — reference
probabilisticAlgorithm parity (mlir.py:1560-1808).

The reference featurizes candidate pairs, trains/loads an XGBoost
pipeline (VectorAssembler + SparkXGBClassifier, mlir.py:1752-1765),
extracts probability[1] per pair (mlir.py:1795-1805) and thresholds at
0.75 (Orchestrate_Demo.py:378; default 0.5, mlir.py:1770). This module
reproduces that surface with stock pyspark.ml (no external deps):

- train_pair_classifier : VectorAssembler + LogisticRegression fit on
  labeled scored pairs (the engine's own similarity columns are the
  features — the reference's ~24 UDF features collapse into these).
- predict_pairs         : match_prob via vector_to_array(probability)[1]
  (native column op, reference F19's per-row UDF eliminated) +
  thresholded prediction.
- save / load           : PipelineModel persistence (reference S8,
  PipelineModel.load, Orchestrate_Demo.py:348-350).

The closed-form score (scoring.py) stays the pipeline default — it
meets the F1>=0.99 gate with no training data; this scorer is for
deployments that DO have labeled pairs and want a calibrated
probability instead of a fixed weighting.

XGBoost parity: `train_pair_classifier(estimator="xgboost")` uses
`xgboost.spark.SparkXGBClassifier` — the reference's exact estimator
(mlir.py:1752-1765) — WHEN the `xgboost` package is importable, and
raises a clear error otherwise (this image ships none; the gated
pytest skips). Every other line (assembler, probability extraction,
threshold, save/load) is estimator-agnostic. LogisticRegression stays
the default to honor the no-new-deps constraint.

Scale: training input is the (small) labeled subset — driver-side fit
on aggregated statistics is LogisticRegression's distributed L-BFGS;
inference is one vectorized model.transform, no Python in the loop.
"""

from __future__ import annotations

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.classification import LogisticRegression
from pyspark.ml.feature import VectorAssembler
from pyspark.ml.functions import vector_to_array
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# the engine's pair-similarity columns (score_pairs_two_phase output;
# exact_dup is False there, exact pairs leave as phase-1 edges)
DEFAULT_FEATURE_COLS = ["jaccard_shingles", "jw_title", "lev_ratio_prefix", "exact_dup_i"]
DEFAULT_THRESHOLD = 0.75  # Orchestrate_Demo.py:378


def _with_feature_ints(scored: DataFrame) -> DataFrame:
    if "exact_dup" in scored.columns and "exact_dup_i" not in scored.columns:
        scored = scored.withColumn("exact_dup_i", F.col("exact_dup").cast("double"))
    return scored


def xgboost_available() -> bool:
    """True iff the xgboost spark estimator is importable — same
    capability-gate pattern as sources.io.iceberg_available."""
    try:
        from xgboost.spark import SparkXGBClassifier  # noqa: F401
    except ImportError:
        return False
    return True


def train_pair_classifier(
    labeled_scored_pairs: DataFrame,
    label_col: str = "is_match",
    feature_cols: list[str] | None = None,
    max_iter: int = 50,
    estimator: str = "logistic",
) -> PipelineModel:
    """Fit VectorAssembler + classifier on scored pairs joined with
    labels (label_col in {0,1}). estimator='logistic' (default, stock
    pyspark.ml) or 'xgboost' (the reference's SparkXGBClassifier,
    mlir.py:1752-1765 — import-gated; raises with guidance when the
    package is absent)."""
    feature_cols = feature_cols or DEFAULT_FEATURE_COLS
    df = _with_feature_ints(labeled_scored_pairs).withColumn(
        "_label", F.col(label_col).cast("double")
    )
    if estimator == "xgboost":
        if not xgboost_available():
            raise RuntimeError(
                "estimator='xgboost' needs the xgboost package "
                "(pip install xgboost) — this image ships none; use the "
                "default LogisticRegression estimator instead"
            )
        from xgboost.spark import SparkXGBClassifier

        clf = SparkXGBClassifier(features_col="_features", label_col="_label")
    elif estimator == "logistic":
        clf = LogisticRegression(
            featuresCol="_features", labelCol="_label", maxIter=max_iter
        )
    else:
        raise ValueError(f"unknown estimator {estimator!r} (logistic|xgboost)")
    pipe = Pipeline(
        stages=[
            VectorAssembler(inputCols=feature_cols, outputCol="_features"),
            clf,
        ]
    )
    return pipe.fit(df)


def predict_pairs(
    model: PipelineModel,
    scored_pairs: DataFrame,
    threshold: float = DEFAULT_THRESHOLD,
) -> DataFrame:
    """scored pairs -> + match_prob (P[match]) + prediction (0/1 at
    ``threshold``). Probability extraction is vector_to_array — a
    native column op, not the reference's per-row UDF (mlir.py:1801)."""
    out = model.transform(_with_feature_ints(scored_pairs))
    return (
        out.withColumn("match_prob", vector_to_array(F.col("probability")).getItem(1))
        .withColumn("prediction", (F.col("match_prob") >= threshold).cast("int"))
        .drop("_features", "rawPrediction", "probability")
    )


def save_model(model: PipelineModel, path: str) -> None:
    """Reference S8 (model sink)."""
    model.write().overwrite().save(path)


def load_model(path: str) -> PipelineModel:
    """Reference S8 (PipelineModel.load, Orchestrate_Demo.py:348-350)."""
    return PipelineModel.load(path)
