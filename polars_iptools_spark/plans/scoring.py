"""Candidate-pair similarity scoring.

Levenshtein is Spark-native (JVM, codegen).  Jaro-Winkler has no Spark
built-in, so it's computed in a single Arrow-batched pandas UDF over
all feature pairs at once — one JVM↔Python crossing per batch, per the
north_star ("batched Jaro-Winkler/Levenshtein ... in a single Arrow
UDF").  The JW implementation is written from scratch (textbook
definition), no external string library (none available in-sandbox).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
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


def jaro_winkler(
    s1: str,
    s2: str,
    p: float = 0.1,
    max_prefix: int = 4,
    boost_threshold: float = 0.7,
) -> float:
    """Winkler's standard definition: the prefix boost applies only when
    the Jaro similarity exceeds ``boost_threshold`` (0.7, matching
    DuckDB's ``jaro_winkler_similarity`` used as the oracle).  Pass
    ``boost_threshold=0.0`` for the unconditional variant."""
    jw = jaro(s1, s2)
    if jw <= boost_threshold:
        return jw
    prefix = 0
    for a, b in zip(s1, s2):
        if a != b or prefix >= max_prefix:
            break
        prefix += 1
    return jw + prefix * p * (1.0 - jw)


def _pad_codepoints(strs: list[str]) -> tuple[np.ndarray, np.ndarray]:
    """List of strings -> (N, Lmax) uint32 codepoint matrix (0-padded)
    + length vector, built with one UTF-32 decode and one scatter.

    Codepoints are stored shifted +1 so the 0 padding sentinel can
    never collide with a real character: a literal NUL ('\\x00') in the
    data must compare as a character, not as end-of-string (only
    equality of cells is ever used downstream, so the shift is free)."""
    n = len(strs)
    lens = np.fromiter((len(s) for s in strs), dtype=np.int64, count=n)
    lmax = max(int(lens.max()), 1) if n else 1
    M = np.zeros((n, lmax), dtype=np.uint32)
    total = int(lens.sum())
    if total:
        codes = np.frombuffer("".join(strs).encode("utf-32-le"), dtype=np.uint32)
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


def jaro_winkler_batch(
    av: np.ndarray,
    bv: np.ndarray,
    p: float = 0.1,
    max_prefix: int = 4,
    boost_threshold: float = 0.7,
) -> np.ndarray:
    """Jaro-Winkler over object arrays of strings (None/non-str -> 0.0).

    Identical (a, b) pairs are scored once: candidate streams repeat
    repo names and path stems massively, so the unique set is typically
    a small fraction of the batch."""
    n = len(av)
    out = np.zeros(n, dtype=np.float64)
    if n == 0:
        return out
    # C-level factorize of the (a, b) pair: factorize each side
    # independently, then combine the integer codes — collision-free
    # for any string content WITHOUT NUL bytes (string-concat keys are
    # not: a separator char can appear in a key).  pandas' string hash
    # table treats values as C strings, so '' and '\x00' (and any
    # pair differing only past a NUL) collapse to one code — probe for
    # NULs with one vectorized pass and skip the dedup for such
    # batches (never real path/repo data; correctness for the public
    # operator).  First occurrence per combined code recovers the
    # unique pair list without any per-row Python.
    sa, sb = pd.Series(av), pd.Series(bv)
    has_nul = bool(
        sa.str.contains("\x00", regex=False, na=False).any()
        or sb.str.contains("\x00", regex=False, na=False).any()
    )
    if has_nul:
        valid = np.fromiter(
            (isinstance(x, str) and isinstance(y, str) for x, y in zip(av, bv)),
            dtype=bool,
            count=n,
        )
        ucodes = codes = np.where(valid, np.arange(n, dtype=np.int64), -1)
        first = np.arange(n)
        ucodes, first = ucodes[valid], first[valid]
        if not len(ucodes):
            return out
    else:
        ca, _ = pd.factorize(sa)  # -1 for null/non-str
        cb, _ = pd.factorize(sb)
        valid = (ca >= 0) & (cb >= 0)
        codes = np.where(
            valid, ca.astype(np.int64) * (int(cb.max()) + 2) + cb, -1
        )
        ucodes, first = np.unique(codes, return_index=True)
        if len(ucodes) and ucodes[0] == -1:  # nulls -> 0.0
            ucodes, first = ucodes[1:], first[1:]
        if not len(ucodes):
            return out
    ua, ub = av[first], bv[first]
    uscore = np.zeros(len(ua), dtype=np.float64)
    # identical non-empty strings score 1.0 without touching the matrix
    eq = np.fromiter(
        (x == y for x, y in zip(ua, ub)), dtype=bool, count=len(ua)
    )
    uscore[eq & (ua != "")] = 1.0
    ne = np.flatnonzero(~eq)
    if len(ne):
        A, l1 = _pad_codepoints(list(ua[ne]))
        B, l2 = _pad_codepoints(list(ub[ne]))
        jw = _jaro_matrix(A, B, l1, l2)
        pmax = min(max_prefix, A.shape[1], B.shape[1])
        if pmax:
            pref_eq = (A[:, :pmax] == B[:, :pmax]) & (
                np.arange(pmax) < np.minimum(l1, l2)[:, None]
            )
            prefix = np.cumprod(pref_eq, axis=1).sum(axis=1)
            boosted = jw + prefix * p * (1.0 - jw)
            jw = np.where(jw > boost_threshold, boosted, jw)
        uscore[ne] = jw
    # scatter unique scores back through the codes; ucodes is the sorted
    # unique code list so positions align with searchsorted
    hit = codes >= 0
    out[hit] = uscore[np.searchsorted(ucodes, codes[hit])]
    return out


@F.pandas_udf(DoubleType())
def jaro_winkler_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    return pd.Series(
        jaro_winkler_batch(a.to_numpy(dtype=object), b.to_numpy(dtype=object))
    )


def levenshtein_sim(a: Column, b: Column) -> Column:
    """Normalized 1 - lev/maxlen, JVM-native."""
    mx = F.greatest(F.length(a), F.length(b))
    return F.when(mx == 0, F.lit(1.0)).otherwise(
        1.0 - F.levenshtein(a, b) / mx
    )


def hot_candidates(
    pairs: DataFrame,
    ip_cols: tuple[str, str] = ("ip_a", "ip_b"),
    path_cols: tuple[str, str] = ("path_a", "path_b"),
    weights: tuple[float, float, float] = (0.6, 0.25, 0.15),
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
        base = pairs.where(F.col(ip_cols[0]) == F.col(ip_cols[1])).withColumn(
            "ip_sim", F.lit(1.0)
        )
    else:
        ip_sim = (
            F.when(F.col(ip_cols[0]) == F.col(ip_cols[1]), F.lit(1.0))
            .otherwise(0.5 * levenshtein_sim(F.col(ip_cols[0]), F.col(ip_cols[1])))
        )
        base = pairs.withColumn("ip_sim", ip_sim).where(
            w_ip * F.col("ip_sim") + (w_path + w_repo) * F.lit(1.0) >= threshold
        )
    # survivors: path equality fast-path, then real Levenshtein
    lev_path = F.when(
        F.col(path_cols[0]) == F.col(path_cols[1]), F.lit(1.0)
    ).otherwise(levenshtein_sim(F.col(path_cols[0]), F.col(path_cols[1])))
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


def exact_score_hot(
    hot: DataFrame,
    path_cols: tuple[str, str] = ("path_a", "path_b"),
    repo_cols: tuple[str, str] = ("repo_a", "repo_b"),
    weights: tuple[float, float, float] = (0.6, 0.25, 0.15),
) -> DataFrame:
    """Exact blended score over hot candidates (expects the materialized
    ip_sim / lev_path columns from :func:`hot_candidates`)."""
    w_ip, w_path, w_repo = weights
    path_sim = 0.5 * _jw_eq_gated(
        F.col(path_cols[0]), F.col(path_cols[1])
    ) + 0.5 * F.col("lev_path")
    repo_sim = _jw_eq_gated(F.col(repo_cols[0]), F.col(repo_cols[1]))
    return hot.withColumn(
        "score", w_ip * F.col("ip_sim") + w_path * path_sim + w_repo * repo_sim
    )

