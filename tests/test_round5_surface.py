"""Round-5 surface parity: phone validation (reference F9),
prefix-averaged similarities (F8), Naive-Bayes classify (F20), and
stored-procedure calls (S4). Each test pins the Spark implementation
against a literal Python replication of the reference's semantics
(mlir.py:551-579, 374-466, 995-1028, 77-79)."""

from __future__ import annotations

import math
from itertools import zip_longest

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# F9 — phone validation
# ---------------------------------------------------------------------------

PHONE_CASES = [
    # (candidate, expected_valid)
    ("212-555-0134", True),  # NANP-valid
    ("212.555.0134", True),
    ("(212) 555 0134", True),  # punctuation stripped like the reference
    ("+1 212 555 0134", False),  # 11 digits after strip -> length gate
    ("800-555-0134", False),  # toll-free
    ("844.555.0134", False),  # toll-free
    ("833-555-0134", False),  # toll-free (assigned 2017)
    ("112-555-0134", False),  # area code starts with 1
    ("212-155-0134", False),  # exchange starts with 1
    ("212-555-013", False),  # 9 digits
    ("", False),
    (None, False),
    ("N/A", False),
]


def test_phone_validation_reference_branches(spark):
    from entity_resolution_spark.normalize import is_valid_phone

    df = spark.createDataFrame(
        [(i, c) for i, (c, _) in enumerate(PHONE_CASES)], "i INT, phone STRING"
    )
    got = {
        r["i"]: bool(r["v"])
        for r in df.select("i", is_valid_phone(F.col("phone")).alias("v")).collect()
    }
    for i, (cand, want) in enumerate(PHONE_CASES):
        assert got[i] == want, f"{cand!r}: got {got[i]}, want {want}"


# ---------------------------------------------------------------------------
# F8 — prefix-averaged (generalized) similarities
# ---------------------------------------------------------------------------


def _reference_generalized(sim_fn, s1: str, s2: str) -> float:
    """Literal transcription of the reference's zip_longest loop
    (mlir.py:374-391): accumulate both prefixes char by char, average
    the base similarity over every step."""
    if s1 == "" or s2 == "":
        return 0.0
    s1, s2 = s1.lower(), s2.lower()
    t1 = t2 = ""
    total = 0.0
    cnt = 0
    for a, b in zip_longest(s1, s2):
        if a:
            t1 += a
        if b:
            t2 += b
        cnt += 1
        total += sim_fn(t1, t2)
    return total / cnt


GSIM_PAIRS = [
    ("martha", "marhta"),
    ("dixon", "dicksonx"),
    ("apple", "apples"),
    ("web page", "web-page"),
    ("a", "abcdefgh"),
    ("same", "same"),
    ("", "nonempty"),
]


def test_generalized_jw_matches_reference_loop(spark):
    from similarity_oracles import jaro_winkler_py

    from entity_resolution_spark.functions.similarity import generalized_jaro_winkler

    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(GSIM_PAIRS)], "i INT, a STRING, b STRING"
    )
    got = {
        r["i"]: r["g"]
        for r in df.select(
            "i", generalized_jaro_winkler(F.col("a"), F.col("b")).alias("g")
        ).collect()
    }
    for i, (a, b) in enumerate(GSIM_PAIRS):
        want = _reference_generalized(jaro_winkler_py, a, b)
        # quantization to 1e-4 per prefix bounds the drift at ~1e-4
        assert abs(got[i] - want) < 2e-4, f"{(a, b)}: {got[i]} vs {want}"


def test_generalized_lev_matches_reference_loop(spark):
    from entity_resolution_spark.functions.similarity import (
        generalized_levenshtein_ratio,
    )

    def lev(x: str, y: str) -> int:
        prev = list(range(len(y) + 1))
        for i, cx in enumerate(x, 1):
            cur = [i]
            for j, cy in enumerate(y, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (cx != cy))
                )
            prev = cur
        return prev[-1]

    def ratio(x: str, y: str) -> float:
        return 1.0 - lev(x, y) / max(len(x), len(y), 1)

    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(GSIM_PAIRS)], "i INT, a STRING, b STRING"
    )
    got = {
        r["i"]: r["g"]
        for r in df.select(
            "i", generalized_levenshtein_ratio(F.col("a"), F.col("b")).alias("g")
        ).collect()
    }
    for i, (a, b) in enumerate(GSIM_PAIRS):
        want = _reference_generalized(ratio, a, b)
        assert abs(got[i] - want) < 2e-4, f"{(a, b)}: {got[i]} vs {want}"


def test_gjw_vectorized_matches_scalar_loop():
    """The numpy prefix kernel must be BIT-identical to the scalar
    _generalized_py(jaro_winkler_py) loop at every length 0-64
    (quantized doubles compare with ==, not a tolerance)."""
    import random

    import numpy as np
    from similarity_oracles import _generalized_py, jaro_winkler_py

    from entity_resolution_spark.functions.similarity import (
        _by_length_bucket,
        _gjw_batch_np,
    )

    rng = random.Random(7)
    alpha = "abcdefg XYZ0éß"

    def rand_str(lo, hi):
        return "".join(rng.choice(alpha) for _ in range(rng.randint(lo, hi)))

    cases = ["", "a", "aa", "ab", "ba", "abc"] + [rand_str(0, 16) for _ in range(800)]
    pairs = [(rng.choice(cases), rng.choice(cases)) for _ in range(2000)]
    pairs += [("a", "a"), ("ab", "ba"), ("", "x"), ("martha", "marhta")]
    # above 16 chars: mixed with short rows so several length buckets
    # share one batch; the scalar oracle costs ~ms per pair here
    pairs += [(rand_str(17, 64), rand_str(0, 64)) for _ in range(300)]
    pairs += [(x, x[1:] + x[:1]) for x, _ in pairs[-20:]]  # near-duplicates
    sa = np.array([x.lower() for x, _ in pairs], dtype=object)
    sb = np.array([y.lower() for _, y in pairs], dtype=object)
    got = _by_length_bucket(sa, sb, _gjw_batch_np)[0]
    for k, (x, y) in enumerate(pairs):
        assert got[k] == _generalized_py(jaro_winkler_py, x, y), (x, y)


def test_fused_generalized_sims_matches_individual_columns(spark):
    """generalized_sims (fused numpy UDF) must be BIT-identical to the
    two individual functions: gjw vs the Arrow UDF, glev vs the pure-JVM
    HOF column algebra (the shared-DP prefix Levenshtein is a different
    algorithm shape — this pins its arithmetic to the JVM original)."""
    import random

    from entity_resolution_spark.functions.similarity import (
        generalized_jaro_winkler,
        generalized_levenshtein_ratio,
        generalized_sims,
    )

    rng = random.Random(13)
    alpha = "abcdefg XYZ0éß"

    def rand_str(lo, hi):
        return "".join(rng.choice(alpha) for _ in range(rng.randint(lo, hi)))

    vals = ["", "a", "ab", "ba", None] + [rand_str(0, 16) for _ in range(400)]
    short_rows = [(i, rng.choice(vals), rng.choice(vals)) for i in range(1200)]
    long_rows = [(i, rand_str(17, 64), rand_str(17, 64)) for i in range(300)]
    # 65-120 chars pins the shared-DP prefix Levenshtein there against
    # the JVM column algebra; few rows, as the JVM HOF is O(L^3) per pair
    long_rows += [(300 + i, rand_str(65, 120), rand_str(65, 120)) for i in range(8)]
    for rows in (short_rows, long_rows):
        df = spark.createDataFrame(rows, "i long, a string, b string")
        out = (
            df.select(
                "i",
                generalized_sims(F.col("a"), F.col("b")).alias("_s"),
                generalized_jaro_winkler(F.col("a"), F.col("b")).alias("gjw_ind"),
                generalized_levenshtein_ratio(F.col("a"), F.col("b")).alias("glev_ind"),
            )
            .select("i", "_s.gjw", "_s.glev", "gjw_ind", "glev_ind")
            .collect()
        )
        for r in out:
            assert r["gjw"] == r["gjw_ind"], (r["i"], r["gjw"], r["gjw_ind"])
            assert r["glev"] == r["glev_ind"], (r["i"], r["glev"], r["glev_ind"])


def test_generalized_sims_null_and_empty(spark):
    from entity_resolution_spark.functions.similarity import (
        generalized_jaro_winkler,
        generalized_levenshtein_ratio,
    )

    df = spark.createDataFrame(
        [(None, "x"), ("x", None), ("", ""), (None, None)], "a STRING, b STRING"
    )
    rows = df.select(
        generalized_jaro_winkler(F.col("a"), F.col("b")).alias("gjw"),
        generalized_levenshtein_ratio(F.col("a"), F.col("b")).alias("glev"),
    ).collect()
    assert all(r["gjw"] == 0.0 and r["glev"] == 0.0 for r in rows)


# ---------------------------------------------------------------------------
# F20 — Naive Bayes classify
# ---------------------------------------------------------------------------


def test_nb_learns_separable_classes(spark):
    from entity_resolution_spark.operators.nb_classify import nb_classify, nb_train

    rows = []
    for i in range(30):
        rows.append((i, "aaaa bbbb aaaa bbbb", "A"))
        rows.append((100 + i, "zzzz yyyy zzzz yyyy", "Z"))
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING, lang STRING")
    model, stats = nb_train(docs, label_col="lang", text_col="text", n=2)
    pred = nb_classify(docs, model, stats, id_col="doc_id", text_col="text", n=2)
    joined = pred.join(docs, "doc_id").select("lang", "pred_label").collect()
    assert all(r["lang"] == r["pred_label"] for r in joined)


def test_nb_model_matches_hand_laplace(spark):
    """Pin the smoothed log-prob arithmetic on a corpus small enough to
    count by hand: one 'ab' doc labeled X, one 'cd' doc labeled Y."""
    from entity_resolution_spark.operators.nb_classify import LOGP_Q, nb_train

    docs = spark.createDataFrame(
        [(1, "ab", "X"), (2, "cd", "Y")], "doc_id LONG, text STRING, lang STRING"
    )
    model, stats = nb_train(docs, label_col="lang", text_col="text", n=2)
    m = {(r["label"], r["gram"]): r["q_logp"] for r in model.collect()}
    # vocab = {ab, cd} -> V=2; T_X = 1; P(ab|X) = (1+1)/(1+2)
    assert m[("X", "ab")] == math.floor(math.log(2 / 3) * LOGP_Q + 0.5)
    s = {r["label"]: (r["q_prior"], r["q_default"]) for r in stats.collect()}
    assert s["X"][0] == math.floor(math.log(1 / 2) * LOGP_Q + 0.5)
    assert s["X"][1] == math.floor(math.log(1 / 3) * LOGP_Q + 0.5)


def test_nb_train_rejects_id_like_label_column(spark):
    """nb_train collects one row per label to the driver; a label column
    with more distinct values than the cap (e.g. a doc id) must raise,
    naming the cap and the column, instead of collecting the corpus."""
    from entity_resolution_spark.operators.nb_classify import _MAX_LABELS, nb_train

    docs = spark.range(_MAX_LABELS + 1).select(
        F.col("id").alias("doc_id"),
        F.lit("abab").alias("text"),
        F.col("id").cast("string").alias("url"),
    )
    with pytest.raises(ValueError, match=f"'url'.*{_MAX_LABELS}"):
        nb_train(docs, label_col="url", text_col="text", n=2)


def test_nb_short_and_null_text_scores_prior_only(spark):
    from entity_resolution_spark.operators.nb_classify import nb_classify, nb_train

    docs = spark.createDataFrame(
        [(1, "abab", "X"), (2, "cdcd", "X"), (3, "efef", "Y"), (4, None, "Y"), (5, "q", "X")],
        "doc_id LONG, text STRING, lang STRING",
    )
    model, stats = nb_train(docs, label_col="lang", text_col="text", n=2)
    pred = nb_classify(docs, model, stats, id_col="doc_id", text_col="text", n=2)
    rows = {r["doc_id"]: r for r in pred.collect()}
    assert rows[4]["n_grams"] == 0 and rows[5]["n_grams"] == 0
    # prior-only argmax -> the majority label X (3 of 5 docs)
    assert rows[4]["pred_label"] == "X" and rows[5]["pred_label"] == "X"
    assert len(rows) == 5


# ---------------------------------------------------------------------------
# S4 — stored procedures
# ---------------------------------------------------------------------------


def test_procedure_call_binds_params(spark):
    from entity_resolution_spark.sources.procedures import call_procedure

    spark.createDataFrame(
        [(i, "t" * (i + 1), (i + 1)) for i in range(6)],
        "doc_id LONG, text STRING, n_chars LONG",
    ).withColumn("source", F.when(F.col("doc_id") < 4, "big").otherwise("small")).createOrReplaceTempView(
        "documents_v"
    )
    out = call_procedure(spark, "source_quality_report", min_docs=3)
    rows = {r["source"]: r for r in out.collect()}
    assert list(rows) == ["big"]  # 'small' has 2 docs < min_docs=3
    assert rows["big"]["n_docs"] == 4
    assert rows["big"]["total_chars"] == 1 + 2 + 3 + 4
    assert rows["big"]["avg_chars_floor"] == 2
    # the documented default (min_docs=1) is reachable without kwargs
    dflt = {r["source"] for r in call_procedure(spark, "source_quality_report").collect()}
    assert dflt == {"big", "small"}


def test_procedure_registry_contract(spark):
    from entity_resolution_spark.sources.procedures import (
        call_procedure,
        list_procedures,
        register_procedure,
    )

    with pytest.raises(KeyError):
        call_procedure(spark, "no_such_proc")
    with pytest.raises(ValueError):
        register_procedure("bad", "SELECT 1")
    register_procedure(
        "echo_param",
        "BEGIN\n  SELECT :x AS x;\nEND",
    )
    assert "echo_param" in list_procedures()
    assert call_procedure(spark, "echo_param", x=7).collect()[0]["x"] == 7
