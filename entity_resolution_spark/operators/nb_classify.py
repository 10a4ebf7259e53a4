"""Naive-Bayes text classification with a broadcast model — reference
F20 re-expressed for web pages.

The reference trains an NLTK NaiveBayesClassifier on char-gram name
features and classifies via a per-row Python UDF over a broadcast
pickled model (``get_nb_classifier`` / ``gender_features``,
mlir.py:995-1028). Names/genders are out of the web-page domain, but
the PATTERN — train a multinomial NB on character n-grams, broadcast
the model, score every row — is exactly how production LLM-data
pipelines run cheap quality/language classifiers over a crawl. This
module keeps the reference's model family (multinomial NB over char
n-grams, Laplace smoothing) and replaces both the per-row UDF and the
pickled model with DataFrame algebra: the model IS a small DataFrame,
scoring is one broadcast join + one aggregation, zero Python in the
hot path.

Scale shape at 100 TB: the model is label-vocabulary-sized (classes x
distinct grams — dimension-sized, broadcast); scoring explodes each
doc's grams once, joins the broadcast model, and partial-aggregates
per (doc, label), so the only shuffle is the per-doc combine keyed on
the (high-cardinality) doc id. The single driver-side structure is
nb_train's per-label doc-count table (one row per CLASS, collected to
derive the prior denominator without a second corpus scan), capped at
_MAX_LABELS rows — an id-like label column raises instead of
collecting the corpus.

Cross-engine determinism (the DuckDB oracle hashes raw values): all
log-probabilities are quantized to int64 micro-nats —
floor(ln(p) * 1e6 + 0.5) — at model-build time, so per-doc scores are
exact integer sums (order-independent) and argmax ties break on the
label string.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from entity_resolution_spark.util import fan_out

LOGP_Q = 1_000_000  # micro-nats


def char_grams(text: Column, n: int = 2) -> Column:
    """Overlapping lowercase character n-grams (with multiplicity).
    Empty array for NULL/too-short text. Guarded so ``sequence`` never
    sees start > stop (which would generate a DESCENDING range)."""
    t = F.lower(text)
    ln = F.length(t)
    return F.when(
        ln >= n,
        F.transform(
            F.sequence(F.lit(1), ln - (n - 1)),
            lambda i: F.substr(t, i, F.lit(n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _q_ln(x: Column) -> Column:
    return F.floor(F.log(x) * LOGP_Q + F.lit(0.5)).cast("long")


_MAX_LABELS = 10_000  # cap on nb_train's per-label driver collect


def nb_train(
    docs: DataFrame,
    label_col: str = "lang",
    text_col: str = "text",
    n: int = 2,
) -> tuple[DataFrame, DataFrame]:
    """Train a multinomial NB: returns ``(model, label_stats)``.

    model:        (label, gram, q_logp)   — seen grams only
    q_logp = floor(ln((c + 1) / (T_label + V)) * 1e6 + 0.5)  (Laplace)
    label_stats:  (label, q_prior, q_default) where q_default is the
    smoothed log-prob of an unseen gram, ln(1 / (T_label + V)).

    Rows with NULL labels are excluded from training (they carry no
    signal); V is the corpus-wide distinct-gram count. Raises
    ValueError above _MAX_LABELS distinct labels.
    """
    # the gram explode multiplies each row ~text-length-fold, so its
    # cost follows characters, not bytes: split a narrow input first
    docs = fan_out(docs)
    filtered = docs.filter(F.col(label_col).isNotNull())
    base = filtered.select(
        F.col(label_col).alias("label"),
        F.explode(char_grams(F.col(text_col), n)).alias("gram"),
    )
    # one scan yields the label-cardinality-sized doc counts; n_total is
    # their driver-side sum — avoids a second full-scan count() (review
    # catch). Collected first and capped, so an id-like label column
    # fails before any gram work.
    n_docs_agg = filtered.groupBy(F.col(label_col).alias("label")).agg(
        F.count("*").alias("n_label")
    )
    n_docs_rows = n_docs_agg.limit(_MAX_LABELS + 1).collect()
    if len(n_docs_rows) > _MAX_LABELS:
        raise ValueError(
            f"nb_train: label column {label_col!r} has more than {_MAX_LABELS} "
            "distinct values; the per-label counts are collected to the "
            "driver, so the label column must be class-like, not id-like"
        )
    counts = base.groupBy("label", "gram").agg(F.count("*").alias("c"))
    vocab = counts.select("gram").distinct().count()
    totals = counts.groupBy("label").agg(F.sum("c").alias("t"))
    model = (
        counts.join(F.broadcast(totals), "label")
        .select(
            "label",
            "gram",
            _q_ln((F.col("c") + 1) / (F.col("t") + F.lit(vocab))).alias("q_logp"),
        )
    )
    n_total = sum(r["n_label"] for r in n_docs_rows)
    n_docs = docs.sparkSession.createDataFrame(n_docs_rows, n_docs_agg.schema)
    label_stats = n_docs.join(F.broadcast(totals), "label").select(
        "label",
        _q_ln(F.col("n_label") / F.lit(n_total)).alias("q_prior"),
        _q_ln(F.lit(1.0) / (F.col("t") + F.lit(vocab))).alias("q_default"),
    )
    return model, label_stats


def nb_classify(
    docs: DataFrame,
    model: DataFrame,
    label_stats: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
) -> DataFrame:
    """Score every doc against every label and return the argmax:
    (id, pred_label, score_q, n_grams).

    score(doc, label) = q_prior + n_grams * q_default
                      + sum over matched gram occurrences of
                        (q_logp - q_default)
    computed as: a doc x label base grid (labels are a broadcast
    handful), plus one inner join of the doc's exploded grams against
    the broadcast model — unseen grams never materialize rows. Ties
    break on the lexicographically smallest label (min-struct on
    (-score, label); no window, no skew: the combine key is the doc
    id). Docs with no grams (NULL/short text) score prior-only, as the
    reference's empty-feature row does."""
    docs = fan_out(docs)
    grams = docs.select(
        F.col(id_col).alias("_id"),
        F.explode(char_grams(F.col(text_col), n)).alias("gram"),
    )
    matched = (
        grams.join(F.broadcast(model), "gram")
        .groupBy("_id", "label")
        .agg(
            F.sum("q_logp").alias("_sum_logp"),
            F.count("*").alias("_n_matched"),
        )
    )
    n_grams = docs.select(
        F.col(id_col).alias("_id"),
        F.size(char_grams(F.col(text_col), n)).alias("n_grams"),
    )
    base = n_grams.crossJoin(F.broadcast(label_stats))
    scored = (
        base.join(matched, ["_id", "label"], "left")
        .select(
            "_id",
            "label",
            "n_grams",
            (
                F.col("q_prior")
                + F.col("n_grams") * F.col("q_default")
                + F.coalesce(
                    F.col("_sum_logp")
                    - F.col("_n_matched") * F.col("q_default"),
                    F.lit(0).cast("long"),
                )
            ).alias("score_q"),
        )
    )
    best = scored.groupBy("_id").agg(
        F.min(F.struct((-F.col("score_q")).alias("_neg"), F.col("label"))).alias("_w"),
        F.first("n_grams").alias("n_grams"),
    )
    return best.select(
        F.col("_id").alias(id_col),
        F.col("_w.label").alias("pred_label"),
        (-F.col("_w._neg")).alias("score_q"),
        F.col("n_grams").cast("long").alias("n_grams"),
    )
