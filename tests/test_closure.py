"""Transitive-closure correctness vs a networkx oracle (SURVEY.md §5),
on hand-built graphs: chain, star, two components, self-loop,
duplicate edges, plus randomized (fixed-seed) graphs with long and
hex-string node ids."""

import networkx as nx
import pytest

from polars_iptools_spark.operators.closure import connected_components

CASES = {
    "chain": [(1, 2), (2, 3), (3, 4), (4, 5)],
    "star": [(10, 1), (10, 2), (10, 3)],
    "two_components": [(1, 2), (2, 3), (7, 8)],
    "self_loop": [(1, 1), (1, 2), (5, 5)],
    "dup_edges": [(1, 2), (2, 1), (1, 2), (3, 4)],
}


def oracle(edges):
    g = nx.Graph()
    g.add_edges_from(edges)
    out = {}
    for comp in nx.connected_components(g):
        root = min(comp)
        for n in comp:
            out[n] = root
    return out


def spark_cc(spark, edges, schema="src long, dst long", **kwargs):
    df = spark.createDataFrame(edges, schema)
    rows = connected_components(df, **kwargs).collect()
    return {r.node: r.component for r in rows}


@pytest.mark.parametrize("name", list(CASES))
def test_closure_matches_networkx(spark, name):
    edges = CASES[name]
    assert spark_cc(spark, edges) == oracle(edges)


def test_closure_random_graph(spark):
    import random

    rnd = random.Random(42)
    edges = [(rnd.randrange(200), rnd.randrange(200)) for _ in range(300)]
    edges = [(a, b) for a, b in edges]
    assert spark_cc(spark, edges) == oracle(edges)


def test_closure_hex_string_ids(spark):
    """128-bit hex-string node ids (the pipeline's rid form) close like
    numbers: the component is the minimum id in string order."""
    import random

    rnd = random.Random(11)
    ids = [f"{rnd.getrandbits(128):032x}" for _ in range(120)]
    edges = [(rnd.choice(ids), rnd.choice(ids)) for _ in range(150)]
    assert spark_cc(spark, edges, "src string, dst string") == oracle(edges)


def test_closure_job_count_one_superstep(spark):
    """Spark jobs for a closure that converges in one superstep, with a
    self-loop-only node, result collect included.  The previous plan
    (normalize checkpoint, edge count for peel_after="auto", groupBy +
    join-back stars, limit-1 self-loop probe) ran 19 jobs on this input
    at local[4] with 4 shuffle partitions; windowed stars, normalize
    folded into superstep 0, and the edge and self-loop counts riding
    on superstep 0's forest check run 12."""
    sc = spark.sparkContext
    edges = [(10, 1), (10, 2), (10, 3), (20, 21), (21, 22), (20, 22), (5, 5)]
    df = spark.createDataFrame(edges, "src long, dst long")
    stats: dict = {}
    sc.setJobGroup("closure_job_count", "closure job-count guard")
    try:
        got = {r.node: r.component for r in connected_components(df, stats=stats).collect()}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert got == oracle(edges)
    assert stats["supersteps"] == 1, stats
    jobs = sc.statusTracker().getJobIdsForGroup("closure_job_count")
    assert len(jobs) < 19, len(jobs)


@pytest.mark.parametrize("name", list(CASES))
def test_closure_peel_from_first_superstep(spark, name):
    """peel_after=0 splits settled stars off from superstep 0 on (after
    superstep 0's forest check, then in the fused peel plan; the
    hand-built cases converge in 1-2, so the small-input setting
    peel_after=2 never engages it there); results must be identical to
    the oracle, self-loops included."""
    edges = CASES[name]
    df = spark.createDataFrame(edges, "src long, dst long")
    rows = connected_components(df, peel_after=0).collect()
    assert {r.node: r.component for r in rows} == oracle(edges)


def test_closure_peel_equivalence_random(spark):
    """On a graph needing >2 supersteps, peeling (default) and
    peel_after=None (never peel) must produce identical assignments."""
    import random

    rnd = random.Random(7)
    # sparse: 400 nodes, 260 edges -> long thin components, several
    # supersteps, so stars freeze while others still churn
    edges = [(rnd.randrange(400), rnd.randrange(400)) for _ in range(260)]
    df = spark.createDataFrame(edges, "src long, dst long")
    stats: dict = {}
    peeled = {
        r.node: r.component
        for r in connected_components(df, stats=stats, peel_after=0).collect()
    }
    plain = {
        r.node: r.component
        for r in connected_components(df, peel_after=None).collect()
    }
    assert peeled == plain == oracle(edges)
    assert stats["supersteps"] >= 2, stats


@pytest.mark.parametrize("threshold, resolved", [(1, 0), (10**9, 2)])
def test_closure_auto_peel_resolution(spark, monkeypatch, threshold, resolved):
    """peel_after="auto" resolves from superstep 0's forest-check edge
    count: at or over the threshold it peels superstep 0's settled
    stars right after the check and every superstep after; below it,
    from superstep 2.  Both match the oracle on a multi-superstep
    graph."""
    import random

    from polars_iptools_spark.operators import closure

    monkeypatch.setattr(closure, "PEEL_AUTO_THRESHOLD", threshold)
    rnd = random.Random(7)
    edges = [(rnd.randrange(400), rnd.randrange(400)) for _ in range(260)]
    stats: dict = {}
    assert spark_cc(spark, edges, stats=stats) == oracle(edges)
    assert stats["peel_after"] == resolved, stats
    assert stats["supersteps"] >= 2, stats


def test_closure_giant_component_bounded_supersteps(spark):
    """Skew-robust closure: one component spanning ~8% of nodes — as a
    CHAIN, the worst case for star contraction (maximum diameter) —
    plus a hub star and a sea of size-3 components.  Supersteps must
    stay O(log diameter), and membership must be exact.

    (The corpus-scale wall record for this shape lives in
    BENCH/closure_giant_result.json via BENCH/closure_giant.py.)
    """
    from pyspark.sql import functions as F

    n_small = 60_000  # 20k size-3 components: nodes 0..59999
    chain_n = 5_000   # chain component: diameter 5k
    star_n = 5_000    # hub star: the high-degree/skew case
    chain = spark.range(n_small, n_small + chain_n - 1).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    hub = n_small + chain_n
    star = spark.range(hub + 1, hub + star_n).select(
        F.lit(hub).alias("src"), F.col("id").alias("dst")
    )
    small = spark.range(0, n_small, 3).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    ).union(
        spark.range(0, n_small, 3).select(
            F.col("id").alias("src"), (F.col("id") + 2).alias("dst")
        )
    )
    stats: dict = {}
    comp = connected_components(
        chain.union(star).union(small), stats=stats
    )
    sizes = comp.groupBy("component").count()
    giant = {r.component: r["count"] for r in sizes.where("count > 3").collect()}
    assert giant == {n_small: chain_n, hub: star_n}, giant
    assert sizes.where("count = 3").count() == n_small // 3
    # log2(5000) ~ 12.3; star contraction typically halves distances
    # per superstep — anything over 25 means the bound broke
    assert stats["supersteps"] <= 25, stats
