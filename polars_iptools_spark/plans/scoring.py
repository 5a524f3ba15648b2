"""Candidate-pair similarity scoring.

Levenshtein is Spark-native (JVM, codegen).  Jaro-Winkler has no Spark
built-in, so it's computed in a single Arrow UDF (``pa.Array`` in and
out) over all feature pairs at once — one JVM↔Python crossing per
batch, per the north_star ("batched Jaro-Winkler/Levenshtein ... in a
single Arrow UDF").  The JW implementation is written from scratch
(textbook definition), no external string library (none available
in-sandbox).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType


def jaro(s1: str, s2: str) -> float:
    if s1 == s2:
        # both-empty -> 0.0 (DuckDB jaro_winkler_similarity convention;
        # also the saner linkage semantic: no evidence, no similarity)
        return 1.0 if s1 else 0.0
    l1, l2 = len(s1), len(s2)
    if l1 == 0 or l2 == 0:
        return 0.0
    window = max(l1, l2) // 2 - 1
    if window < 0:
        window = 0
    m1 = [False] * l1
    m2 = [False] * l2
    matches = 0
    for i, c in enumerate(s1):
        lo = max(0, i - window)
        hi = min(l2, i + window + 1)
        for j in range(lo, hi):
            if not m2[j] and s2[j] == c:
                m1[i] = True
                m2[j] = True
                matches += 1
                break
    if matches == 0:
        return 0.0
    t = 0
    j = 0
    for i in range(l1):
        if m1[i]:
            while not m2[j]:
                j += 1
            if s1[i] != s2[j]:
                t += 1
            j += 1
    t //= 2
    return (matches / l1 + matches / l2 + (matches - t) / matches) / 3.0


# Winkler's prefix boost: scale P per shared prefix character, up to
# MAX_PREFIX characters, applied only when the Jaro similarity exceeds
# BOOST_THRESHOLD (0.7, matching DuckDB's ``jaro_winkler_similarity``,
# the oracle)
P, MAX_PREFIX, BOOST_THRESHOLD = 0.1, 4, 0.7


def jaro_winkler(s1: str, s2: str) -> float:
    """Winkler's standard definition (the scalar reference for
    :func:`jaro_winkler_batch`)."""
    jw = jaro(s1, s2)
    if jw <= BOOST_THRESHOLD:
        return jw
    prefix = 0
    for a, b in zip(s1, s2):
        if a != b or prefix >= MAX_PREFIX:
            break
        prefix += 1
    return jw + prefix * P * (1.0 - jw)


def _pad_codepoints(strs: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """Null-free string array -> (N, Lmax) uint32 codepoint matrix
    (0-padded) + length vector, built with one UTF-32 encode and one
    scatter.

    Codepoints are stored shifted +1 so the 0 padding sentinel can
    never collide with a real character: a literal NUL ('\\x00') in the
    data must compare as a character, not as end-of-string (only
    equality of cells is ever used downstream, so the shift is free)."""
    n = len(strs)
    lens = pc.utf8_length(strs).to_numpy(zero_copy_only=False).astype(np.int64)
    lmax = max(int(lens.max()), 1) if n else 1
    M = np.zeros((n, lmax), dtype=np.uint32)
    total = int(lens.sum())
    if total:
        text = "".join(strs.to_numpy(zero_copy_only=False))
        codes = np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32)
        rows = np.repeat(np.arange(n), lens)
        off = np.concatenate(([0], np.cumsum(lens)[:-1]))
        cols = np.arange(total) - np.repeat(off, lens)
        M[rows, cols] = codes + 1
    return M, lens


def _jaro_matrix(
    A: np.ndarray, B: np.ndarray, l1: np.ndarray, l2: np.ndarray
) -> np.ndarray:
    """Vectorized Jaro over N string pairs at once: the greedy matching
    scan runs as O(Lmax^2) numpy ops each N wide, instead of N separate
    O(L^2) Python loops — the 10-50x hot-path lever for the linkage
    pipeline's candidate-scoring stage."""
    n = len(l1)
    res = np.zeros(n, dtype=np.float64)
    if n == 0:
        return res
    L1, L2 = A.shape[1], B.shape[1]
    window = np.maximum(np.maximum(l1, l2) // 2 - 1, 0)
    wmax = int(window.max())
    # transposed (L, N) layout: the scan below reads whole positions at
    # a time, and a position must be one contiguous row, not a strided
    # column (measured ~3x on path-length strings)
    AT = np.ascontiguousarray(A.T)
    BT = np.ascontiguousarray(B.T)
    m1t = np.zeros((L1, n), dtype=bool)
    m2t = np.zeros((L2, n), dtype=bool)
    for i in range(int(l1.max())):
        act = i < l1
        lo = np.maximum(0, i - window)
        hi = np.minimum(l2, i + window + 1)
        c = AT[i]
        pending = act.copy()
        for j in range(max(0, i - wmax), min(L2, i + wmax + 1)):
            if not pending.any():
                break
            ok = pending & (j >= lo) & (j < hi) & ~m2t[j] & (BT[j] == c)
            m1t[i] |= ok
            m2t[j] |= ok
            pending &= ~ok
    m1 = np.ascontiguousarray(m1t.T)
    m2 = np.ascontiguousarray(m2t.T)
    matches = m1.sum(axis=1)
    # transpositions: compact the matched characters of each side in
    # order (scatter by running match count), then count mismatches
    order1 = m1.cumsum(axis=1) - 1
    order2 = m2.cumsum(axis=1) - 1
    C1 = np.zeros(A.shape, dtype=np.uint32)
    C2 = np.zeros(B.shape, dtype=np.uint32)
    r, c = np.nonzero(m1)
    C1[r, order1[r, c]] = A[r, c]
    r, c = np.nonzero(m2)
    C2[r, order2[r, c]] = B[r, c]
    L = min(L1, L2)  # matches <= min(l1, l2) <= L
    t = (
        (C1[:, :L] != C2[:, :L]) & (np.arange(L) < matches[:, None])
    ).sum(axis=1) // 2
    nz = matches > 0
    m = matches[nz].astype(np.float64)
    res[nz] = (m / l1[nz] + m / l2[nz] + (m - t[nz]) / m) / 3.0
    return res


def jaro_winkler_batch(a: pa.Array, b: pa.Array) -> np.ndarray:
    """Jaro-Winkler over two string (or large_string) arrays; a null
    on either side scores 0.0.

    Each distinct (a, b) pair is scored once: candidate streams repeat
    repo names and path stems massively, so the unique set is typically
    a small fraction of the batch.  Pairs are keyed by each side's
    ``dictionary_encode`` index (Arrow hashes the full bytes, NULs
    included), and the codepoint matrices are built once per distinct
    string and gathered per pair."""
    if len(a) == 0:
        return np.zeros(0)
    da, db = a.dictionary_encode(), b.dictionary_encode()
    ia = da.indices.fill_null(-1).to_numpy().astype(np.int64)
    ib = db.indices.fill_null(-1).to_numpy().astype(np.int64)
    valid = (ia >= 0) & (ib >= 0)
    codes = np.where(valid, ia * len(db.dictionary) + ib, -1)
    ucodes, first, inv = np.unique(codes, return_index=True, return_inverse=True)
    lo = int(ucodes[0] == -1)  # the null pairs' code sorts first
    if lo == len(ucodes):
        return np.zeros(len(a))
    ua, ub = ia[first[lo:]], ib[first[lo:]]
    Ma, la = _pad_codepoints(da.dictionary)
    Mb, lb = _pad_codepoints(db.dictionary)
    A, l1, B, l2 = Ma[ua], la[ua], Mb[ub], lb[ub]
    jw = _jaro_matrix(A, B, l1, l2)
    pmax = min(MAX_PREFIX, A.shape[1], B.shape[1])
    pref_eq = (A[:, :pmax] == B[:, :pmax]) & (
        np.arange(pmax) < np.minimum(l1, l2)[:, None]
    )
    prefix = np.cumprod(pref_eq, axis=1).sum(axis=1)
    jw = np.where(jw > BOOST_THRESHOLD, jw + prefix * P * (1.0 - jw), jw)
    # scatter back through each row's unique-code position; the null
    # code (if any) maps to the leading 0.0
    return np.concatenate((np.zeros(lo), jw))[inv]


@F.arrow_udf(DoubleType())
def jaro_winkler_udf(a: pa.Array, b: pa.Array) -> pa.Array:
    return pa.array(jaro_winkler_batch(a, b))


def levenshtein_sim(a: Column, b: Column) -> Column:
    """Normalized 1 - lev/maxlen, JVM-native."""
    mx = F.greatest(F.length(a), F.length(b))
    return F.when(mx == 0, F.lit(1.0)).otherwise(
        1.0 - F.levenshtein(a, b) / mx
    )


# blend weights of the (ip, path, repo) similarity terms
WEIGHTS = (0.6, 0.25, 0.15)


def hot_candidates(
    pairs: DataFrame,
    weights: tuple[float, float, float] = WEIGHTS,
    threshold: float = 0.72,
) -> DataFrame:
    """Pairs whose score *upper bound* (JVM-only terms, perfect-JW
    assumption) can reach the threshold — the only rows that ever need
    the Python scorer.  The heavy terms ride along as materialized
    columns so the exact scorer never recomputes them.

    This is the stage worth checkpointing at scale: it shrinks the
    quadratic pair stream to near-edge size entirely JVM-side.
    """
    w_ip, w_path, w_repo = weights
    # STAGED bound: first kill pairs on the ip term alone (IP strings
    # are <=15 chars, their Levenshtein is near-free), assuming perfect
    # path+repo.  With the default weights any unequal-IP pair caps at
    # w_ip*0.5 + w_path + w_repo = 0.70 < 0.72, so the expensive
    # path-Levenshtein below never runs for cross-entity pairs — at
    # 2.4M files this is most of the candidates-stage wall.
    #
    # Algebraic short-circuit (r07): when that cap itself cannot reach
    # the threshold — w_ip*0.5 + w_path + w_repo <= threshold — the ip
    # bound is decided by EQUALITY alone (unequal strings have
    # lev_sim <= 1 - 1/maxlen < 1 strictly, so their bound is strictly
    # below the cap and the >= filter drops them regardless of the
    # Levenshtein value).  The filter then skips the per-pair ip
    # Levenshtein entirely over the full candidate stream, and every
    # survivor's ip_sim is the constant 1.0 the generic expression
    # would have produced.  Null IPs drop in both forms (null
    # comparison -> null -> filtered).  "Strictly below" needs
    # w_ip > 0: with w_ip == 0 every unequal-IP bound EQUALS the cap,
    # and a cap equal to the threshold passes the generic filter.
    if w_ip > 0 and w_ip * 0.5 + w_path + w_repo <= threshold:
        base = pairs.where(F.col("ip_a") == F.col("ip_b")).withColumn(
            "ip_sim", F.lit(1.0)
        )
    else:
        ip_sim = (
            F.when(F.col("ip_a") == F.col("ip_b"), F.lit(1.0))
            .otherwise(0.5 * levenshtein_sim(F.col("ip_a"), F.col("ip_b")))
        )
        base = pairs.withColumn("ip_sim", ip_sim).where(
            w_ip * F.col("ip_sim") + (w_path + w_repo) * F.lit(1.0) >= threshold
        )
    # survivors: path equality fast-path, then real Levenshtein
    lev_path = F.when(
        F.col("path_a") == F.col("path_b"), F.lit(1.0)
    ).otherwise(levenshtein_sim(F.col("path_a"), F.col("path_b")))
    base = base.withColumn("lev_path", lev_path)
    upper = (
        w_ip * F.col("ip_sim")
        + w_path * (0.5 + 0.5 * F.col("lev_path"))
        + w_repo * F.lit(1.0)
    )
    return base.withColumn("ub", upper).where(F.col("ub") >= threshold)


def _jw_eq_gated(a: Column, b: Column) -> Column:
    """Jaro-Winkler with the equal-strings case resolved JVM-side:
    equal non-empty -> 1.0, equal empty -> 0.0 (the batch kernel's
    convention), and ONLY unequal pairs cross the Arrow boundary (the
    UDF inputs are null-gated, so equal rows transfer as null bitmap
    entries, not string bytes).  True-match candidate streams are
    dominated by equal repo (and often path) features — at the 9.6M
    skewed corpus this strips ~85M repo-string pairs from the
    crossing."""
    eq = a.eqNullSafe(b)
    return (
        F.when(eq & a.isNotNull() & (a != ""), F.lit(1.0))
        .when(eq, F.lit(0.0))
        .otherwise(jaro_winkler_udf(F.when(~eq, a), F.when(~eq, b)))
    )


def exact_score_hot(hot: DataFrame) -> DataFrame:
    """Exact blended score (:data:`WEIGHTS`) over hot candidates
    (expects the materialized ip_sim / lev_path columns from
    :func:`hot_candidates` at the default weights)."""
    w_ip, w_path, w_repo = WEIGHTS
    jw_path = _jw_eq_gated(F.col("path_a"), F.col("path_b"))
    path_sim = 0.5 * jw_path + 0.5 * F.col("lev_path")
    repo_sim = _jw_eq_gated(F.col("repo_a"), F.col("repo_b"))
    return hot.withColumn(
        "score", w_ip * F.col("ip_sim") + w_path * path_sim + w_repo * repo_sim
    )

