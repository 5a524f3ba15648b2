"""Jaro-Winkler scoring kernel: the vectorized batch path must agree
with the scalar textbook implementation AND with DuckDB's independent
``jaro_winkler_similarity`` (the driver's oracle for the ``scoring``
query)."""

import random

import pyarrow as pa
import pytest

from polars_iptools_spark.plans.scoring import (
    jaro,
    jaro_winkler,
    jaro_winkler_batch,
)


def _random_pairs(n=3000, seed=7):
    rnd = random.Random(seed)
    alph = "abcdefgXYZ /._-"
    pairs = []
    for _ in range(n):
        l1, l2 = rnd.randrange(0, 30), rnd.randrange(0, 30)
        a = "".join(rnd.choice(alph) for _ in range(l1))
        b = "".join(rnd.choice(alph) for _ in range(l2))
        r = rnd.random()
        if r < 0.3:  # near-duplicate
            b = a[: max(0, l1 - 2)] + "".join(rnd.choice(alph) for _ in range(2))
        elif r < 0.4:
            b = a
        pairs.append((a, b))
    return pairs


def test_batch_matches_scalar():
    pairs = _random_pairs()
    av = pa.array([p[0] for p in pairs], pa.string())
    bv = pa.array([p[1] for p in pairs], pa.string())
    got = jaro_winkler_batch(av, bv)
    for i, (a, b) in enumerate(pairs):
        assert abs(jaro_winkler(a, b) - got[i]) < 1e-12, (a, b)


def test_batch_matches_duckdb():
    duckdb = pytest.importorskip("duckdb")
    pairs = _random_pairs(seed=11)
    av = pa.array([p[0] for p in pairs], pa.string())
    bv = pa.array([p[1] for p in pairs], pa.string())
    got = jaro_winkler_batch(av, bv)
    con = duckdb.connect()
    con.execute("CREATE TABLE t(i INT, a VARCHAR, b VARCHAR)")
    con.executemany(
        "INSERT INTO t VALUES (?,?,?)", [(i, a, b) for i, (a, b) in enumerate(pairs)]
    )
    duck = con.execute(
        "SELECT jaro_winkler_similarity(a,b) FROM t ORDER BY i"
    ).fetchall()
    for i, (d,) in enumerate(duck):
        assert abs(d - got[i]) < 1e-9, (pairs[i], d, got[i])


def test_nulls_and_edge_content():
    av = pa.array([None, "abc", None, "", "a\x00b", "日本語テスト"], pa.string())
    bv = pa.array(["x", None, None, "", "ab", "日本語のテスト"], pa.string())
    got = jaro_winkler_batch(av, bv)
    assert got[0] == got[1] == got[2] == 0.0
    assert got[3] == 0.0  # both-empty -> 0.0 (DuckDB convention)
    assert abs(got[4] - jaro_winkler("a\x00b", "ab")) < 1e-12
    assert abs(got[5] - jaro_winkler("日本語テスト", "日本語のテスト")) < 1e-12


def test_nul_bytes_do_not_collide_pairs():
    # regression: string-concat pair keys collapsed ('b','b') with
    # ('','bb') because pandas concat drops NUL separators
    av = pa.array(["b", ""], pa.string())
    bv = pa.array(["b", "bb"], pa.string())
    got = jaro_winkler_batch(av, bv)
    assert got[0] == 1.0
    assert got[1] == jaro_winkler("", "bb") == 0.0


def test_winkler_boost_gated_at_0_7():
    # shared 4-char prefix but low jaro: boost must NOT apply
    a, b = "abcdzzzzzzzzzzzzzzzz", "abcdqqqqqqqqqqqqqqqqqqqqqqqq"
    j = jaro(a, b)
    assert j <= 0.7
    assert jaro_winkler(a, b) == j
    got = jaro_winkler_batch(
        pa.array([a], pa.string()), pa.array([b], pa.string())
    )
    assert got[0] == j
    # high-jaro prefix pair: boost applies
    a2, b2 = "martha", "marhta"
    assert jaro_winkler(a2, b2) > jaro(a2, b2)


def test_identical_strings_fast_path():
    av = pa.array(["same/path.py"] * 5 + ["x"], pa.string())
    bv = pa.array(["same/path.py"] * 5 + ["y"], pa.string())
    got = jaro_winkler_batch(av, bv)
    assert (got[:5] == 1.0).all()
    assert got[5] == 0.0


def test_jw_eq_gated_matches_udf(spark):
    """The JVM equality gate (_jw_eq_gated) must be value-identical to
    the raw UDF on every class of input: equal non-empty, equal empty,
    unequal, one/both null — only the Arrow crossing changes."""
    from pyspark.sql import functions as F

    from polars_iptools_spark.plans.scoring import (
        _jw_eq_gated,
        jaro_winkler_udf,
    )

    rows = [
        ("org1/repo", "org1/repo"),
        ("", ""),
        ("src/a/main.py", "src/a/util.py"),
        ("abc", None),
        (None, None),
        ("x", ""),
        ("path/with space", "path/with space"),
    ] + [(a, b) for a, b in _random_pairs(200, seed=13)]
    df = spark.createDataFrame(rows, "a string, b string")
    got = df.select(
        _jw_eq_gated(F.col("a"), F.col("b")).alias("gated"),
        jaro_winkler_udf(F.col("a"), F.col("b")).alias("raw"),
    ).collect()
    for r in got:
        assert r.gated == pytest.approx(r.raw, abs=1e-12), r


def test_hot_candidates_eq_shortcircuit_matches_generic(spark):
    """r07: when w_ip*0.5 + w_path + w_repo <= threshold the ip bound
    is decided by equality alone and hot_candidates skips the per-pair
    ip Levenshtein.  The fast path must keep the output (rows AND the
    materialized ip_sim / lev_path columns) identical to the generic
    bound — asserted by comparing against weights that force the
    generic path at a threshold where both select the same rows, and
    by pinning that unequal-IP pairs can never survive the default
    weights."""
    from pyspark.sql import functions as F

    from polars_iptools_spark.plans.scoring import hot_candidates

    rows = []
    for i in range(50):
        ip_a = f"10.0.0.{i % 7}"
        ip_b = ip_a if i % 3 else f"10.0.1.{i % 7}"
        rows.append(
            (i, 1000 + i, ip_a, ip_b, f"src/m{i % 5}/h{i}.py", f"src/m{i % 5}/h{i}_v2.py")
        )
    pairs = spark.createDataFrame(
        rows, "rid_a long, rid_b long, ip_a string, ip_b string, path_a string, path_b string"
    )
    # default weights (0.6, 0.25, 0.15): 0.6*0.5+0.40 = 0.70 <= 0.72 -> fast path
    fast = hot_candidates(pairs, threshold=0.72)
    plan = fast._jdf.queryExecution().executedPlan().toString()
    assert "levenshtein(ip_a" not in plan, "ip Levenshtein not short-circuited"
    # generic path via weights failing the inequality (0.9*0.5+0.1 = 0.55 > 0.4
    # threshold) would diverge; instead force the generic expression with the
    # same default weights by nudging the threshold below the cap
    generic = hot_candidates(pairs, threshold=0.699)
    # at threshold 0.699 the generic bound admits unequal-IP pairs iff their
    # lev bound reaches it; equal-IP rows must be identical in both outputs
    fast_rows = {
        (r.rid_a, r.rid_b, r.ip_sim, round(r.lev_path, 9)) for r in fast.collect()
    }
    gen_eq_rows = {
        (r.rid_a, r.rid_b, r.ip_sim, round(r.lev_path, 9))
        for r in generic.where(F.col("ip_a") == F.col("ip_b")).collect()
    }
    assert fast_rows == gen_eq_rows
    # and no unequal-IP pair survives the fast path
    assert fast.where(F.col("ip_a") != F.col("ip_b")).count() == 0

    # weight sweep against a Python evaluation of the generic bound,
    # binary-exact weights so boundary scores are exact; includes
    # w_ip == 0 with w_path + w_repo == threshold, where an unequal-IP
    # pair with equal paths scores exactly the threshold and is kept
    sweep_rows = [
        (
            i,
            2000 + i,
            f"10.0.0.{i % 7}",
            None if i == 11 else (f"10.0.0.{i % 7}" if i % 3 else f"10.0.{i % 4}.{i % 7}"),
            f"src/m{i % 5}/h{i}.py",
            f"src/m{i % 5}/h{i}.py" if i % 2 else f"src/m{i % 5}/h{i}_v{i % 3}.py",
        )
        for i in range(60)
    ]
    sweep = spark.createDataFrame(
        sweep_rows,
        "rid_a long, rid_b long, ip_a string, ip_b string, path_a string, path_b string",
    )
    for (w_ip, w_path, w_repo), t in [
        ((0.0, 0.5, 0.25), 0.75),
        ((0.0, 0.5, 0.5), 0.75),
        ((0.5, 0.25, 0.25), 0.75),
        ((0.5, 0.25, 0.25), 0.625),
        ((0.25, 0.5, 0.25), 0.875),
        ((0.25, 0.5, 0.25), 0.75),
    ]:
        expected = set()
        for rid_a, rid_b, ip_a, ip_b, path_a, path_b in sweep_rows:
            if ip_a is None or ip_b is None:
                continue
            ip_sim = 1.0 if ip_a == ip_b else 0.5 * _lev_sim(ip_a, ip_b)
            if not w_ip * ip_sim + (w_path + w_repo) * 1.0 >= t:
                continue
            lev_path = 1.0 if path_a == path_b else _lev_sim(path_a, path_b)
            ub = w_ip * ip_sim + w_path * (0.5 + 0.5 * lev_path) + w_repo * 1.0
            if ub >= t:
                expected.add((rid_a, rid_b, round(ip_sim, 9), round(lev_path, 9)))
        got = {
            (r.rid_a, r.rid_b, round(r.ip_sim, 9), round(r.lev_path, 9))
            for r in hot_candidates(
                sweep, weights=(w_ip, w_path, w_repo), threshold=t
            ).collect()
        }
        assert got == expected, ((w_ip, w_path, w_repo), t)
    # the boundary case is really exercised: unequal IPs, equal paths
    assert any(
        r.ip_a != r.ip_b
        for r in hot_candidates(sweep, weights=(0.0, 0.5, 0.25), threshold=0.75)
        .where(F.col("ip_b").isNotNull())
        .collect()
    )


def _lev_sim(a, b):
    """1 - levenshtein/maxlen, the textbook DP (reference for the JVM
    ``levenshtein_sim``)."""
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    mx = max(len(a), len(b))
    return 1.0 if mx == 0 else 1.0 - prev[-1] / mx
