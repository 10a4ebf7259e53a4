"""Scalar reference implementations of Jaro-Winkler and the
prefix-averaged ("generalized") similarities. The shipped numpy kernels
in ``entity_resolution_spark.functions.similarity`` must equal these
bit-for-bit (same greedy matching, same IEEE expression order, same
1e-4 quantization); the tests compare them with ``==``."""

from __future__ import annotations

from entity_resolution_spark.functions.similarity import _GSIM_Q


def _jaro(s1: str, s2: str) -> float:
    if s1 == s2:
        return 1.0
    len1, len2 = len(s1), len(s2)
    if len1 == 0 or len2 == 0:
        return 0.0
    match_dist = max(len1, len2) // 2 - 1
    s1_m = [False] * len1
    s2_m = [False] * len2
    matches = 0
    for i in range(len1):
        lo = max(0, i - match_dist)
        hi = min(i + match_dist + 1, len2)
        for j in range(lo, hi):
            if not s2_m[j] and s1[i] == s2[j]:
                s1_m[i] = s2_m[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    t = 0
    k = 0
    for i in range(len1):
        if s1_m[i]:
            while not s2_m[k]:
                k += 1
            if s1[i] != s2[k]:
                t += 1
            k += 1
    t //= 2
    m = matches
    return (m / len1 + m / len2 + (m - t) / m) / 3.0


def jaro_winkler_py(
    s1: str, s2: str, p: float = 0.1, max_prefix: int = 4, boost_threshold: float = 0.7
) -> float:
    """Scalar Jaro-Winkler in [0,1]. Standard Winkler: the prefix boost
    applies only when jaro > boost_threshold (0.7), matching
    rapidfuzz/DuckDB semantics."""
    if s1 is None or s2 is None:
        return 0.0
    j = _jaro(s1, s2)
    if j <= boost_threshold:
        return j
    prefix = 0
    for a, b in zip(s1[:max_prefix], s2[:max_prefix]):
        if a == b:
            prefix += 1
        else:
            break
    return j + prefix * p * (1.0 - j)


def _generalized_py(sim_fn, s1: str, s2: str) -> float:
    """Scalar prefix-averaged similarity with quantized accumulation."""
    if not s1 or not s2:
        return 0.0
    s1, s2 = s1.lower(), s2.lower()
    n = max(len(s1), len(s2))
    total = 0
    for i in range(1, n + 1):
        total += int(sim_fn(s1[:i], s2[:i]) * _GSIM_Q + 0.5)
    v = total / (n * float(_GSIM_Q))
    return int(v * _GSIM_Q + 0.5) / float(_GSIM_Q)
