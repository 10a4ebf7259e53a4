"""Similarity functions — native-first, Arrow-batched where Spark lacks
a builtin.

Reference parity (SURVEY.md §2.8): Levenshtein (mlir.py:300-321 — here
native F.levenshtein), token-overlap scores (mlir.py:225-241 — here
exact set Jaccard on arrays), Jaro-Winkler (mlir.py:338-370), containment
(mlir.py:1632-1633), soundex (mlir.py:1618-1623 — native F.soundex),
hamming (mlir.py:244-297).

Jaro-Winkler has ONE implementation: the length-generic numpy kernel
``_jw_np``, which scores a whole Arrow batch in one vector pass per
character position. ``jaro_winkler`` calls it at full length; the
reference's prefix-averaged "generalized" similarities (mlir.py:374-466)
call it once per prefix length, next to a shared-DP Levenshtein kernel
(``generalized_sims``). Batches are split into power-of-two length
buckets, so no input length falls back to per-row Python. At O(L^3) per
pair the generalized sims stay out of pipeline scoring, which uses the
plain monotone [0,1] similarities.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


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


def minhash_verify_gate(threshold: float, num_perm: int, sigmas: float = 3.0) -> float:
    """Gate on minhash_jaccard_estimate for a two-phase verify:
    threshold minus `sigmas` binomial standard deviations of the
    num_perm-sample estimator, floored at 0."""
    sigma = (threshold * (1.0 - threshold) / max(num_perm, 1)) ** 0.5
    return max(0.0, threshold - sigmas * sigma)


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

def _encode(strs: np.ndarray, lens: np.ndarray, width: int, pad: int) -> np.ndarray:
    """(rows, width) int32 code-point matrix; cells past each row's
    length hold ``pad``, a negative value no code point equals."""
    # one big utf-32 encode beats a per-row frombuffer loop ~10x
    codes = np.frombuffer(
        "".join(x.ljust(width, "\x00") for x in strs).encode("utf-32-le"), np.int32
    ).reshape(len(strs), width)
    return np.where(np.arange(width) < lens[:, None], codes, np.int32(pad))


def _by_length_bucket(sa: np.ndarray, sb: np.ndarray, *kernels) -> list[np.ndarray]:
    """Run each ``kernel(A, Bm, la, lb) -> float64[rows]`` over a batch
    of string pairs, grouping rows into power-of-two buckets of
    max(len a, len b) and encoding each bucket once at its own widest
    row — one long string makes only its bucket pay its length. The
    pads of A and Bm (-1 and -2) never equal each other or a real
    character, so kernels need no per-cell length masks."""
    n_rows = len(sa)
    la = np.fromiter(map(len, sa), dtype=np.int64, count=n_rows)
    lb = np.fromiter(map(len, sb), dtype=np.int64, count=n_rows)
    longest = np.maximum(la, lb)
    bucket = np.frexp(longest)[1]  # floor(log2 L) + 1; 0 for L == 0
    outs = [np.zeros(n_rows, dtype=np.float64) for _ in kernels]
    for k in np.unique(bucket):
        rows = np.flatnonzero(bucket == k)
        width = max(1, int(longest[rows].max()))
        A = _encode(sa[rows], la[rows], width, -1)
        Bm = _encode(sb[rows], lb[rows], width, -2)
        for out, kernel in zip(outs, kernels):
            out[rows] = kernel(A, Bm, la[rows], lb[rows])
    return outs


def _jw_np(A: np.ndarray, Bm: np.ndarray, la: np.ndarray, lb: np.ndarray) -> np.ndarray:
    """Jaro-Winkler of each row over the first la/lb code points of A/Bm
    (pads as ``_by_length_bucket`` writes them). One vector pass per
    position i of a does the scalar greedy match for every row at once:
    the candidates are the unmatched b_j equal to a_i inside the window
    |i - j| <= max(la, lb) // 2 - 1, and the lowest one is taken. The
    transposition, Jaro and Winkler arithmetic then follow the scalar
    definition in the same IEEE order, so results are bit-identical to
    it (pinned against the scalar oracle in the tests)."""
    n_rows, width = A.shape
    rows = np.arange(n_rows)
    cols = np.arange(width)
    window = np.maximum(la, lb)[:, None] // 2 - 1
    free = np.ones((n_rows, width), dtype=bool)  # b_j not yet matched
    s1m = np.zeros((n_rows, width), dtype=bool)
    for i in range(width):
        cand = (Bm == A[:, i, None]) & free & (np.abs(cols - i) <= window)
        j = cand.argmax(axis=1)
        hit = cand[rows, j]
        free[rows[hit], j[hit]] = False
        s1m[:, i] = hit
    m = s1m.sum(axis=1)
    # the k-th matched a and the k-th matched b of a row sit at the same
    # flat offset, since both sides hold m matches in row-major order
    mismatch = A[s1m] != Bm[~free]
    t = np.bincount(np.repeat(rows, m)[mismatch], minlength=n_rows) // 2
    mf = m.astype(np.float64)
    jaro = (mf / np.maximum(la, 1) + mf / np.maximum(lb, 1) + (mf - t) / np.maximum(m, 1)) / 3.0
    jaro = np.where(m > 0, jaro, 0.0)
    # equal strings score 1.0 before any matching (1-char strings have
    # window -1, so the formula alone would give 0)
    jaro = np.where((la == lb) & ((A == Bm).sum(axis=1) == la), 1.0, jaro)
    # Winkler boost: common prefix, at most 4 (pads never compare equal)
    prefix = np.logical_and.accumulate(A[:, :4] == Bm[:, :4], axis=1).sum(axis=1)
    return np.where(jaro > 0.7, jaro + prefix * 0.1 * (1.0 - jaro), jaro)


@F.pandas_udf(T.DoubleType())
def jaro_winkler(a: pd.Series, b: pd.Series) -> pd.Series:
    """Arrow-batched Jaro-Winkler similarity (standard Winkler: the
    prefix boost applies only when jaro > 0.7, as in DuckDB). NULL reads
    as ''. Equal strings are 1.0 without entering the kernel, so
    comparing a column with itself costs O(rows) whatever the length."""
    fa = a.fillna("").to_numpy(dtype=object)
    fb = b.fillna("").to_numpy(dtype=object)
    out = np.ones(len(fa), dtype=np.float64)
    ne = np.flatnonzero(fa != fb)
    out[ne] = _by_length_bucket(fa[ne], fb[ne], _jw_np)[0]
    return pd.Series(out)


def damerau_levenshtein_sim(a: Column, b: Column) -> Column:
    """Normalized DL similarity in [0,1]: 1 - dist/max_len over the
    unrestricted (Lowrance-Wagner) damerau_levenshtein_dist, so the two
    siblings agree by construction (an earlier OSA variant here silently
    disagreed with the dist/DuckDB-oracle semantics on transpose-then-
    edit inputs like 'ca'->'abc'). NULL reads as ''."""
    denom = F.greatest(
        F.length(F.coalesce(a, F.lit(""))), F.length(F.coalesce(b, F.lit(""))), F.lit(1)
    )
    return F.lit(1.0) - damerau_levenshtein_dist(a, b) / denom


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
    with DuckDB damerau_levenshtein). NULL reads as ''."""
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
# mean_{i=1..L} sim(a[:i], b[:i]). O(L^3) per pair (L prefixes of an
# O(L^2) sim), so callers cap the input length (the pair queries
# already compare bounded substrings).
#
# Cross-engine determinism: each per-prefix similarity is quantized to
# 1e-4 via floor(x*10000 + 0.5) BEFORE summation, the sum is exact
# int64 arithmetic (order-independent), and the final mean is the same
# IEEE division on identical integers in Spark and the DuckDB oracle —
# so the double output is bit-identical by construction.

_GSIM_Q = 10000


def _gsim_mean(total: np.ndarray, la: np.ndarray, lb: np.ndarray) -> np.ndarray:
    """Mean of the quantized per-prefix sums over max(la, lb) prefixes,
    quantized again; 0.0 where either string is empty."""
    v = total / (np.maximum(np.maximum(la, lb), 1) * float(_GSIM_Q))
    out = np.floor(v * _GSIM_Q + 0.5) / float(_GSIM_Q)
    return np.where((la > 0) & (lb > 0), out, 0.0)


def _gjw_batch_np(A: np.ndarray, Bm: np.ndarray, la: np.ndarray, lb: np.ndarray) -> np.ndarray:
    """Prefix-averaged Jaro-Winkler kernel (``_by_length_bucket``
    layout; A/Bm already lowercased): ``_jw_np`` once per prefix length
    i on the rows still live at i, each value quantized to 1e-4 before
    the exact int64 sum."""
    n_pref = np.maximum(la, lb)
    total = np.zeros(len(A), dtype=np.int64)
    for i in range(1, A.shape[1] + 1):
        live = np.flatnonzero((i <= n_pref) & (la > 0) & (lb > 0))
        jw = _jw_np(A[live, :i], Bm[live, :i], np.minimum(la[live], i), np.minimum(lb[live], i))
        total[live] += np.floor(jw * _GSIM_Q + 0.5).astype(np.int64)
    return _gsim_mean(total, la, lb)


def _lowered(col: pd.Series) -> np.ndarray:
    return col.fillna("").astype(str).str.lower().to_numpy(dtype=object)


@F.pandas_udf(T.DoubleType())
def generalized_jaro_winkler(a: pd.Series, b: pd.Series) -> pd.Series:
    """Prefix-averaged Jaro-Winkler (reference
    get_generalized_jw_similarity, mlir.py:374-391), Arrow-batched
    through the vectorized ``_gjw_batch_np`` kernel at any length."""
    return pd.Series(_by_length_bucket(_lowered(a), _lowered(b), _gjw_batch_np)[0])


def _glev_batch_np(A: np.ndarray, Bm: np.ndarray, la: np.ndarray, lb: np.ndarray) -> np.ndarray:
    """Prefix-averaged Levenshtein-ratio kernel (``_by_length_bucket``
    layout). ONE unit-cost DP over the rows, swept a row p at a time,
    yields every prefix distance lev(a[:i], b[:i]) = D[min(la,i),
    min(lb,i)] as the sweep passes it, so all L prefix distances cost a
    single DP in O(L) rows of memory instead of L separate levenshtein
    calls. Bit-identical to generalized_levenshtein_ratio's JVM column
    algebra: same 1.0 - lev/i expression, same 1e-4 quantization,
    same NULL/empty posture (pinned by pytest)."""
    n_rows, L = A.shape
    rows = np.arange(n_rows)
    # row[q, r] = D[p, q] = lev(a_r[:p], b_r[:q]); lev[i, r] = lev(a_r[:i], b_r[:i])
    row = np.repeat(np.arange(L + 1, dtype=np.int32)[:, None], n_rows, axis=1)
    lev = np.zeros((L + 1, n_rows), dtype=np.int32)
    for p in range(1, L + 1):
        prev, row = row, np.empty_like(row)
        row[0] = p
        ap = A[:, p - 1]
        for q in range(1, L + 1):
            cost = (ap != Bm[:, q - 1]).astype(np.int32)
            row[q] = np.minimum(np.minimum(prev[q], row[q - 1]) + 1, prev[q - 1] + cost)
        # prefix i = p reads D[p, min(p, lb)] while p <= la; past la,
        # prefix i reads D[la, i] (i <= lb there), all on row p = la
        lev[p] = np.where(p <= la, row[np.minimum(p, lb), rows], lev[p])
        ends = la == p
        lev[p + 1 :, ends] = row[p + 1 :, ends]
    i = np.arange(1, L + 1)[:, None]
    q_i = np.floor((1.0 - lev[1:] / i) * _GSIM_Q + 0.5).astype(np.int64)
    total = np.where(i <= np.maximum(la, lb), q_i, 0).sum(axis=0)
    return _gsim_mean(total, la, lb)


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
    generalized_levenshtein_ratio): one encode per length bucket, one
    vectorized JW sweep, one shared-DP Levenshtein sweep, one transfer
    back. Values are bit-identical to the two individual functions
    (pinned by pytest + the doc_generalized_sims DuckDB oracle)."""
    gjw, glev = _by_length_bucket(_lowered(a), _lowered(b), _gjw_batch_np, _glev_batch_np)
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
