"""Property-based tests (hypothesis) for the similarity kernels behind
the Arrow UDFs — the functions whose subtle edge cases (unicode,
empties, transpositions) a handful of example tests miss. The
Jaro-Winkler properties hold for the scalar oracle, and the shipped
vectorized kernel must equal that oracle on every generated pair;
hypothesis text includes astral code points and NUL, which exercise the
utf-32 encode and its pad cells. No SparkSession needed: the UDF body
is called directly on pandas Series."""

from __future__ import annotations

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st
from similarity_oracles import jaro_winkler_py

from entity_resolution_spark.functions.similarity import (
    _dl_full,
    _metaphone,
    jaro_winkler,
)

text = st.text(max_size=24)
word = st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FF), max_size=16)


@settings(max_examples=300, deadline=None)
@given(text, text)
def test_jw_bounds_and_symmetry(a, b):
    v = jaro_winkler_py(a, b)
    assert 0.0 <= v <= 1.0
    assert v == jaro_winkler_py(b, a)
    got = jaro_winkler.func(pd.Series([a, b]), pd.Series([b, a]))
    assert list(got) == [v, v]


@settings(max_examples=100, deadline=None)
@given(text)
def test_jw_identity(a):
    assert jaro_winkler_py(a, a) == 1.0
    # empty vs non-empty is 0 (both-empty is identity above)
    if a:
        assert jaro_winkler_py(a, "") == 0.0
    got = jaro_winkler.func(pd.Series([a, a, ""]), pd.Series([a, "", a]))
    assert list(got) == [1.0, jaro_winkler_py(a, ""), jaro_winkler_py("", a)]


@settings(max_examples=300, deadline=None)
@given(text, text)
def test_dl_metric_axioms(a, b):
    d = _dl_full(a, b)
    assert d == _dl_full(b, a)  # symmetry
    assert (d == 0) == (a == b)  # identity of indiscernibles
    assert d <= max(len(a), len(b))  # bounded by the longer string


@settings(max_examples=100, deadline=None)
@given(text, text, text)
def test_dl_triangle_inequality(a, b, c):
    # unrestricted (Lowrance-Wagner) DL is a true metric — OSA is not;
    # this is exactly the property that distinguishes the two variants
    assert _dl_full(a, c) <= _dl_full(a, b) + _dl_full(b, c)


@settings(max_examples=50, deadline=None)
@given(st.text(alphabet=st.sampled_from("ab"), min_size=2, max_size=10))
def test_dl_adjacent_transposition_costs_one(s):
    i = len(s) // 2 - 1
    swapped = s[:i] + s[i + 1] + s[i] + s[i + 2:]
    assert _dl_full(s, swapped) <= 1


@settings(max_examples=300, deadline=None)
@given(word)
def test_metaphone_deterministic_and_charset(w):
    k = _metaphone(w)
    assert k == _metaphone(w)  # deterministic
    assert set(k) <= set("ABCDEFGHIJKLMNOPQRSTUVWXYZ0")  # phonetic alphabet
    assert k == _metaphone(w.upper()) == _metaphone(w.lower())  # case-blind
