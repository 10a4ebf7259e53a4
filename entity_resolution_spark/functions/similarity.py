"""Similarity functions — native-first, Arrow-batched where Spark lacks
a builtin.

Reference parity (SURVEY.md §2.8): Levenshtein (mlir.py:300-321 — here
native F.levenshtein), token-overlap scores (mlir.py:225-241 — here
exact set Jaccard on arrays), Jaro-Winkler (mlir.py:338-370 — here a
pandas UDF, Arrow-batched, no per-row Python UDF registration),
containment (mlir.py:1632-1633), soundex (mlir.py:1618-1623 — native
F.soundex), hamming (mlir.py:244-297).

The reference's "generalized" prefix-averaged similarities
(mlir.py:374-466) are here too, with a fused numpy kernel
(generalized_sims); at O(L^3) per pair they stay out of pipeline
scoring, which uses the plain monotone [0,1] similarities.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Optional C fast path: rapidfuzz is not installed in the build sandbox
# but is standard in real deployments (the reference itself depends on
# it, reference setup.py:12-23). The pure-Python fallbacks below are
# oracle-tested to agree with it; the scalar pytest oracle covers both
# paths (tests/test_similarity.py).
try:  # pragma: no cover - exercised only where rapidfuzz exists
    from rapidfuzz.distance import DamerauLevenshtein as _RF_DL
    from rapidfuzz.distance import JaroWinkler as _RF_JW

    _HAVE_RAPIDFUZZ = True
except ImportError:
    _RF_DL = _RF_JW = None
    _HAVE_RAPIDFUZZ = False


# --------------------------------------------------------------------------
# Native (JVM, codegen) similarities — the hot path
# --------------------------------------------------------------------------

def levenshtein_ratio(a: Column, b: Column) -> Column:
    """1 - lev(a,b)/max(len) in [0,1]; 1.0 when both empty."""
    denom = F.greatest(F.length(a), F.length(b), F.lit(1))
    return F.lit(1.0) - F.levenshtein(a, b) / denom


def token_jaccard(a: Column, b: Column) -> Column:
    """Exact set Jaccard over two array columns (any element type)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def containment(a: Column, b: Column) -> Column:
    """Reference is_approx_names: a substring-of b or vice versa."""
    return (F.length(a) > 0) & (F.length(b) > 0) & (a.contains(b) | b.contains(a))


def minhash_jaccard_estimate(sig_a: Column, sig_b: Column) -> Column:
    """Jaccard estimate = fraction of agreeing MinHash components."""
    agree = F.size(F.filter(F.zip_with(sig_a, sig_b, lambda x, y: x == y), lambda z: z))
    return agree / F.greatest(F.size(sig_a), F.lit(1))


def cosine_similarity(a: Column, b: Column) -> Column:
    """Cosine over two array<numeric> columns — native fold, no UDF."""
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v)
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v * v))
    return F.when((na > 0) & (nb > 0), dot / (na * nb)).otherwise(F.lit(0.0))


def soundex(col: Column) -> Column:
    return F.soundex(col)


def hamming_norm(a: Column, b: Column) -> Column:
    """Normalized Hamming similarity on equal-length prefixes (the
    reference pads to max length, mlir.py:244-297; we compare the
    common prefix and charge the length gap as mismatches)."""
    n = F.greatest(F.length(a), F.length(b))
    m = F.least(F.length(a), F.length(b))
    common = F.size(
        F.filter(
            F.zip_with(F.split(a, ""), F.split(b, ""), lambda x, y: x == y),
            lambda z: z,
        )
    )
    # zip_with pads the shorter array with NULLs -> x==y is null there;
    # filter drops nulls, so `common` counts only true prefix matches.
    return F.when(n > 0, common / n).otherwise(F.lit(1.0))


# --------------------------------------------------------------------------
# Arrow-batched (pandas UDF) similarities — Spark has no builtin
# --------------------------------------------------------------------------

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


@F.pandas_udf(T.DoubleType())
def jaro_winkler(a: pd.Series, b: pd.Series) -> pd.Series:
    """Arrow-batched JW similarity (per-batch vector in, vector out).
    Uses rapidfuzz's C implementation when available (10-100x on the
    inner loop), pure-Python fallback otherwise — same semantics."""
    if _HAVE_RAPIDFUZZ:
        return pd.Series(
            [
                _RF_JW.normalized_similarity(x, y)
                for x, y in zip(a.fillna(""), b.fillna(""))
            ],
            dtype="float64",
        )
    return pd.Series(
        [jaro_winkler_py(x, y) for x, y in zip(a.fillna(""), b.fillna(""))], dtype="float64"
    )


@F.pandas_udf(T.DoubleType())
def damerau_levenshtein_sim(a: pd.Series, b: pd.Series) -> pd.Series:
    """Arrow-batched normalized DL similarity in [0,1]: 1 - dist/max_len
    over the SAME unrestricted (Lowrance-Wagner) kernel as
    damerau_levenshtein_dist — the two siblings must agree (an earlier
    OSA variant here silently disagreed with the dist/DuckDB-oracle
    semantics on transpose-then-edit inputs like 'ca'->'abc').
    rapidfuzz C path when present, same as dist."""
    if _HAVE_RAPIDFUZZ:
        dist = (_RF_DL.distance(x, y) for x, y in zip(a.fillna(""), b.fillna("")))
    else:
        dist = (_dl_full(x, y) for x, y in zip(a.fillna(""), b.fillna("")))
    out = [
        1.0 - d / max(len(x), len(y), 1)
        for d, (x, y) in zip(dist, zip(a.fillna(""), b.fillna("")))
    ]
    return pd.Series(out, dtype="float64")


def _dl_full(a: str, b: str) -> int:
    """Unrestricted Damerau-Levenshtein (Lowrance-Wagner): transposed
    characters may be edited again. Matches DuckDB's
    damerau_levenshtein (e.g. 'ca'->'abc' is 2, where OSA gives 3)."""
    la, lb = len(a), len(b)
    if la == 0:
        return lb
    if lb == 0:
        return la
    maxdist = la + lb
    d = [[0] * (lb + 2) for _ in range(la + 2)]
    d[0][0] = maxdist
    for i in range(la + 1):
        d[i + 1][0] = maxdist
        d[i + 1][1] = i
    for j in range(lb + 1):
        d[0][j + 1] = maxdist
        d[1][j + 1] = j
    da: dict[str, int] = {}
    for i in range(1, la + 1):
        db = 0
        for j in range(1, lb + 1):
            k = da.get(b[j - 1], 0)
            l = db
            if a[i - 1] == b[j - 1]:
                cost = 0
                db = j
            else:
                cost = 1
            d[i + 1][j + 1] = min(
                d[i][j] + cost,
                d[i + 1][j] + 1,
                d[i][j + 1] + 1,
                d[k][l] + (i - k - 1) + 1 + (j - l - 1),
            )
        da[a[i - 1]] = i
    return d[la + 1][lb + 1]


@F.pandas_udf(T.IntegerType())
def damerau_levenshtein_dist(a: pd.Series, b: pd.Series) -> pd.Series:
    """Arrow-batched unrestricted DL edit distance (oracle-compatible
    with DuckDB damerau_levenshtein). rapidfuzz C path when present."""
    if _HAVE_RAPIDFUZZ:
        return pd.Series(
            [_RF_DL.distance(x, y) for x, y in zip(a.fillna(""), b.fillna(""))],
            dtype="int32",
        )
    return pd.Series(
        [_dl_full(x, y) for x, y in zip(a.fillna(""), b.fillna(""))], dtype="int32"
    )


_VOWELS = "AEIOU"


def _metaphone(word: str) -> str:
    """Classic Metaphone (L. Philips, 1990) phonetic key — reference
    F14 (`phonetics.metaphone`, mlir.py:1625-1630), reimplemented from
    the published rule set: initial-cluster rewrites, context-sensitive
    C/D/G/H/S/T, silent letters, vowels kept only word-initially.
    Deterministic, pure; batch-applied via the Arrow UDF below."""
    if not word:
        return ""
    # NFKD-fold accents/compatibility forms first (é->E, İ->I, ß->SS),
    # then keep strictly A-Z: case-mapping oddities like Turkish
    # dotted-I otherwise break case-insensitivity (hypothesis-found)
    import unicodedata

    w = "".join(c for c in unicodedata.normalize("NFKD", word).upper() if "A" <= c <= "Z")
    if not w:
        return ""
    for pre, rep in (("AE", "E"), ("GN", "N"), ("KN", "N"), ("PN", "N"),
                     ("WR", "R"), ("X", "S"), ("WH", "W")):
        if w.startswith(pre):
            w = rep + w[len(pre):]
            break
    out: list[str] = []
    n = len(w)
    i = 0
    while i < n:
        c = w[i]
        if i > 0 and c == w[i - 1] and c != "C":  # dedup doubles except C
            i += 1
            continue
        # "^" boundary sentinel, never in any rule string: a bare ""
        # is a substring of EVERY string, so `nxt in "IEY"` was True at
        # word end — dropping initial H (`"" in "CSPTG"`), softening
        # final C to S, and keeping final W/Y (golden-vector-found).
        prev = w[i - 1] if i > 0 else "^"
        nxt = w[i + 1] if i + 1 < n else "^"
        nxt2 = w[i + 2] if i + 2 < n else "^"
        step = 1
        if c in _VOWELS:
            if i == 0:
                out.append(c)
        elif c == "B":
            if not (i == n - 1 and prev == "M"):  # silent -MB
                out.append("B")
        elif c == "C":
            if nxt == "I" and nxt2 == "A":  # -CIA-
                out.append("X")
            elif nxt == "H":
                out.append("K" if prev == "S" else "X")  # SCH- vs -CH-
            elif nxt in "IEY":
                out.append("S")
            else:
                out.append("K")
        elif c == "D":
            if nxt == "G" and nxt2 in "EIY":  # -DGE/DGI/DGY
                out.append("J")
                step = 2
            else:
                out.append("T")
        elif c == "F":
            out.append("F")
        elif c == "G":
            if nxt == "H" and not (i + 2 < n and nxt2 in _VOWELS):
                pass  # GH not before vowel: silent
            elif nxt == "N":
                pass  # GN: silent
            elif nxt in "IEY":
                out.append("J")
            else:
                out.append("K")
        elif c == "H":
            if prev in _VOWELS and nxt not in _VOWELS:
                pass  # vowel-H-consonant: silent
            elif prev in "CSPTG":
                pass  # digraph H already handled by the consonant
            else:
                out.append("H")
        elif c == "J":
            out.append("J")
        elif c == "K":
            if prev != "C":
                out.append("K")
        elif c in "LMNR":
            out.append(c)
        elif c == "P":
            if nxt == "H":
                out.append("F")
                step = 2
            else:
                out.append("P")
        elif c == "Q":
            out.append("K")
        elif c == "S":
            if nxt == "H":
                out.append("X")
                step = 2
            elif nxt == "I" and nxt2 in "OA":  # -SIO-/-SIA-
                out.append("X")
            else:
                out.append("S")
        elif c == "T":
            if nxt == "I" and nxt2 in "OA":  # -TIO-/-TIA-
                out.append("X")
            elif nxt == "H":
                out.append("0")
                step = 2
            elif nxt == "C" and nxt2 == "H":
                pass  # -TCH: T silent
            else:
                out.append("T")
        elif c == "V":
            out.append("F")
        elif c == "W":
            if nxt in _VOWELS:
                out.append("W")
        elif c == "X":
            out.append("KS")
        elif c == "Y":
            if nxt in _VOWELS:
                out.append("Y")
        elif c == "Z":
            out.append("S")
        i += step
    return "".join(out)


@F.pandas_udf(T.StringType())
def metaphone(col: pd.Series) -> pd.Series:
    return col.fillna("").map(_metaphone)


# --------------------------------------------------------------------------
# Generalized (prefix-averaged) similarities — reference F8
# --------------------------------------------------------------------------
#
# The reference's get_generalized_* family (mlir.py:374-466) lowercases
# both strings, walks zip_longest over their characters accumulating
# the two prefixes, computes the base similarity of each aligned prefix
# pair, and returns the mean — i.e. for L = max(len(a), len(b)):
# mean_{i=1..L} sim(a[:i], b[:i]). O(L^2) per pair, so callers cap the
# input length (the pair queries already compare bounded substrings).
#
# Cross-engine determinism: each per-prefix similarity is quantized to
# 1e-4 via floor(x*10000 + 0.5) BEFORE summation, the sum is exact
# int64 arithmetic (order-independent), and the final mean is the same
# IEEE division on identical integers in Spark and the DuckDB oracle —
# so the double output is bit-identical by construction.

_GSIM_Q = 10000


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


def _encode_batch(sa: "np.ndarray", sb: "np.ndarray"):
    """(A, Bm, la, lb, L) code matrices for a batch of lowered strings.
    Pad cells are zero — every consumer masks comparisons by the real
    per-row lengths, so the pad value is never semantically read."""
    import numpy as np

    n_rows = len(sa)
    la = np.fromiter((len(x) for x in sa), dtype=np.int64, count=n_rows)
    lb = np.fromiter((len(x) for x in sb), dtype=np.int64, count=n_rows)
    L = int(max(la.max(initial=0), lb.max(initial=0)))
    if L == 0:
        return None, None, la, lb, 0
    # one big utf-32 encode beats a per-row frombuffer loop ~10x
    A = np.frombuffer(
        "".join(x.ljust(L, "\x00") for x in sa).encode("utf-32-le"), np.int32
    ).reshape(n_rows, L)
    Bm = np.frombuffer(
        "".join(y.ljust(L, "\x00") for y in sb).encode("utf-32-le"), np.int32
    ).reshape(n_rows, L)
    return A, Bm, la, lb, L


def _gjw_batch_np(sa: "np.ndarray", sb: "np.ndarray") -> "np.ndarray":
    """Vectorized prefix-averaged Jaro-Winkler over a whole Arrow batch
    (numpy, no per-row Python). Bit-identical to
    _generalized_py(jaro_winkler_py, ...): same greedy matching, same
    transposition count, same IEEE expression order in the jaro/boost
    formulas, same 1e-4 quantization. Inputs are object arrays of
    already-lowercased strings (NaN-filled upstream). Cost is
    O(L^4) vector ops over the batch — callers gate on small L (the
    operator contract caps inputs; the entry query uses 12 chars)."""
    import numpy as np

    n_rows = len(sa)
    A, Bm, la, lb, L = _encode_batch(sa, sb)
    if L == 0:
        return np.zeros(n_rows, dtype=np.float64)
    n_pref = np.maximum(la, lb)  # prefix-loop bound per row
    total = np.zeros(n_rows, dtype=np.int64)
    idx = np.arange(L)
    for i in range(1, L + 1):
        live = (i <= n_pref) & (la > 0) & (lb > 0)
        la_i = np.minimum(la, i)
        lb_i = np.minimum(lb, i)
        md = np.maximum(la_i, lb_i) // 2 - 1  # match window; -1 => none
        s1m = np.zeros((n_rows, i), dtype=bool)
        s2m = np.zeros((n_rows, i), dtype=bool)
        for ii in range(i):
            found = np.zeros(n_rows, dtype=bool)
            row_ok = live & (ii < la_i)
            for jj in range(i):
                cand = (
                    ~found
                    & row_ok
                    & (jj < lb_i)
                    & (abs(ii - jj) <= md)
                    & (A[:, ii] == Bm[:, jj])
                    & ~s2m[:, jj]
                )
                s2m[:, jj] |= cand
                found |= cand
            s1m[:, ii] = found
        m = s1m.sum(axis=1)
        # compact matched chars in order on both sides, count mismatches
        seq_a = np.full((n_rows, i), -9, dtype=np.int32)
        seq_b = np.full((n_rows, i), -9, dtype=np.int32)
        ra, ca = np.nonzero(s1m)
        seq_a[ra, (np.cumsum(s1m, axis=1) - 1)[ra, ca]] = A[ra, ca]
        rb, cb = np.nonzero(s2m)
        seq_b[rb, (np.cumsum(s2m, axis=1) - 1)[rb, cb]] = Bm[rb, cb]
        in_m = idx[None, :i] < m[:, None]
        t = ((seq_a != seq_b) & in_m).sum(axis=1) // 2
        mf = m.astype(np.float64)
        safe_m = np.maximum(m, 1)
        # exact expression order of _jaro's return (denominators clamped
        # to 1 only where the row is dead and masked out below)
        jaro = (mf / np.maximum(la_i, 1) + mf / np.maximum(lb_i, 1) + (mf - t) / safe_m) / 3.0
        jaro = np.where(m > 0, jaro, 0.0)
        # _jaro's s1 == s2 shortcut: equal 1-char prefixes would get
        # match window -1 => 0 matches via the formula, but the scalar
        # path returns 1.0 before ever computing the window
        in_a = idx[None, :i] < la_i[:, None]
        eq = (la_i == lb_i) & ((A[:, :i] == Bm[:, :i]) | ~in_a).all(axis=1)
        jaro = np.where(eq, 1.0, jaro)
        # winkler boost: common prefix of the TRUNCATED strings, cap 4
        pl = np.zeros(n_rows, dtype=np.int64)
        still = np.ones(n_rows, dtype=bool)
        for c in range(min(4, i)):
            still = still & (c < la_i) & (c < lb_i) & (A[:, c] == Bm[:, c])
            pl += still
        jw = np.where(jaro > 0.7, jaro + pl * 0.1 * (1.0 - jaro), jaro)
        q = np.floor(jw * _GSIM_Q + 0.5).astype(np.int64)
        total += np.where(live, q, 0)
    v = total / (np.maximum(n_pref, 1) * float(_GSIM_Q))
    out = np.floor(v * _GSIM_Q + 0.5) / float(_GSIM_Q)
    return np.where((la > 0) & (lb > 0), out, 0.0)


@F.pandas_udf(T.DoubleType())
def generalized_jaro_winkler(a: pd.Series, b: pd.Series) -> pd.Series:
    """Prefix-averaged Jaro-Winkler (reference
    get_generalized_jw_similarity, mlir.py:374-391), Arrow-batched.
    Short inputs (max len <= 16 in the batch — the operator's
    documented cap regime) run fully vectorized in numpy; longer
    strings fall back to the scalar loop, whose semantics the
    vectorized path replicates bit-for-bit (fuzz-pinned)."""
    import numpy as np

    fa = a.fillna("").astype(str).str.lower().to_numpy(dtype=object)
    fb = b.fillna("").astype(str).str.lower().to_numpy(dtype=object)
    max_len = 0
    for x in fa:
        if len(x) > max_len:
            max_len = len(x)
    for y in fb:
        if len(y) > max_len:
            max_len = len(y)
    if max_len <= 16:
        return pd.Series(_gjw_batch_np(fa, fb), dtype="float64")
    return pd.Series(
        [_generalized_py(jaro_winkler_py, x, y) for x, y in zip(fa, fb)],
        dtype="float64",
    )


def _glev_batch_np(sa: "np.ndarray", sb: "np.ndarray") -> "np.ndarray":
    """Vectorized prefix-averaged Levenshtein ratio over a whole Arrow
    batch. ONE (L+1)x(L+1) DP over the batch yields lev(a[:p], b[:q])
    for EVERY (p, q) at once — the per-prefix values are the clamped
    diagonal reads D[min(la,i), min(lb,i)], so all L prefix distances
    cost a single DP instead of L separate levenshtein calls.
    Bit-identical to generalized_levenshtein_ratio's JVM column
    algebra: same 1.0 - lev/i expression, same 1e-4 quantization,
    same NULL/empty posture (pinned by pytest)."""
    import numpy as np

    n_rows = len(sa)
    A, Bm, la, lb, L = _encode_batch(sa, sb)
    if L == 0:
        return np.zeros(n_rows, dtype=np.float64)
    # bound the DP cube to ~48 MB transient: at the 64-char gate a full
    # 10k-row Arrow batch would otherwise allocate (65*65*10000*4) ≈
    # 169 MB per concurrent batch (review catch) — slice rows instead
    max_rows = max(1, (48 << 20) // (4 * (L + 1) * (L + 1)))
    if n_rows > max_rows:
        return np.concatenate(
            [
                _glev_batch_np(sa[k : k + max_rows], sb[k : k + max_rows])
                for k in range(0, n_rows, max_rows)
            ]
        )
    # D[p, q, r] = lev(a_r[:p], b_r[:q]); cells with p > la_r or
    # q > lb_r are never read (reads clamp to min(len, i))
    D = np.empty((L + 1, L + 1, n_rows), dtype=np.int32)
    D[:, 0, :] = np.arange(L + 1, dtype=np.int32)[:, None]
    D[0, :, :] = np.arange(L + 1, dtype=np.int32)[:, None]
    for p in range(1, L + 1):
        ap = A[:, p - 1]
        for q in range(1, L + 1):
            cost = (ap != Bm[:, q - 1]).astype(np.int32)
            D[p, q] = np.minimum(
                np.minimum(D[p - 1, q], D[p, q - 1]) + 1, D[p - 1, q - 1] + cost
            )
    rows = np.arange(n_rows)
    n_pref = np.maximum(la, lb)
    total = np.zeros(n_rows, dtype=np.int64)
    for i in range(1, L + 1):
        lev_i = D[np.minimum(la, i), np.minimum(lb, i), rows].astype(np.int64)
        ratio = 1.0 - lev_i / i
        q_i = np.floor(ratio * _GSIM_Q + 0.5).astype(np.int64)
        total += np.where(i <= n_pref, q_i, 0)
    v = total / (np.maximum(n_pref, 1) * float(_GSIM_Q))
    out = np.floor(v * _GSIM_Q + 0.5) / float(_GSIM_Q)
    return np.where((la > 0) & (lb > 0), out, 0.0)


def _lev_py(s1: str, s2: str) -> int:
    """Plain unit-cost Levenshtein (fallback path for uncapped inputs)."""
    if s1 == s2:
        return 0
    if len(s1) < len(s2):
        s1, s2 = s2, s1
    prev = list(range(len(s2) + 1))
    for i, c1 in enumerate(s1, 1):
        cur = [i]
        for j, c2 in enumerate(s2, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (c1 != c2)))
        prev = cur
    return prev[-1]


@F.pandas_udf(
    T.StructType(
        [
            T.StructField("gjw", T.DoubleType()),
            T.StructField("glev", T.DoubleType()),
        ]
    )
)
def generalized_sims(a: pd.Series, b: pd.Series) -> pd.DataFrame:
    """Fused prefix-averaged JW + Levenshtein-ratio in ONE Arrow pass —
    the hot-path form of (generalized_jaro_winkler,
    generalized_levenshtein_ratio): one batch encode, one vectorized
    JW sweep, one shared-DP Levenshtein sweep, one transfer back.
    Values are bit-identical to the two individual functions (pinned
    by pytest + the doc_generalized_sims DuckDB oracle). Capped
    inputs (the operator contract) stay fully vectorized; longer
    strings fall back to scalar loops with the same semantics."""
    import numpy as np

    fa = a.fillna("").astype(str).str.lower().to_numpy(dtype=object)
    fb = b.fillna("").astype(str).str.lower().to_numpy(dtype=object)
    max_len = max(
        max((len(x) for x in fa), default=0), max((len(y) for y in fb), default=0)
    )
    if max_len <= 16:
        gjw = _gjw_batch_np(fa, fb)
    else:
        gjw = np.array(
            [_generalized_py(jaro_winkler_py, x, y) for x, y in zip(fa, fb)]
        )
    if max_len <= 64:
        glev = _glev_batch_np(fa, fb)
    else:
        glev = np.array(
            [
                _generalized_py(lambda p1, p2: 1.0 - _lev_py(p1, p2) / max(len(p1), len(p2)), x, y)
                for x, y in zip(fa, fb)
            ]
        )
    return pd.DataFrame({"gjw": gjw, "glev": glev})


def generalized_levenshtein_ratio(a: Column, b: Column) -> Column:
    """Prefix-averaged Levenshtein ratio (reference
    get_generalized_levenshtein_ratio, mlir.py:393-409) — pure JVM:
    the prefix loop is a higher-order ``transform`` over
    ``sequence(1, L)`` calling the native ``levenshtein``, so unlike
    the reference's per-row Python this stays inside codegen. The
    per-prefix ratio is 1 - lev(a[:i], b[:i])/i (i IS
    max(len(a[:i]), len(b[:i])) for i <= L); quantization as in
    ``_generalized_py`` keeps the double bit-identical to the SQL
    oracle."""
    la, lb = F.lower(a), F.lower(b)
    n = F.greatest(F.length(la), F.length(lb))

    def _q(i: Column) -> Column:
        ratio = F.lit(1.0) - F.levenshtein(
            F.substr(la, F.lit(1), i), F.substr(lb, F.lit(1), i)
        ) / i
        return F.floor(ratio * _GSIM_Q + F.lit(0.5)).cast("long")

    total = F.aggregate(
        F.transform(F.sequence(F.lit(1), n), _q),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    v = total / (n.cast("double") * F.lit(float(_GSIM_Q)))
    out = F.floor(v * _GSIM_Q + F.lit(0.5)) / F.lit(float(_GSIM_Q))
    return F.when(
        a.isNull() | b.isNull() | (F.length(la) == 0) | (F.length(lb) == 0),
        F.lit(0.0),
    ).otherwise(out)
