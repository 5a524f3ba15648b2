"""Transitive-closure correctness vs a networkx oracle (SURVEY.md §5),
on hand-built graphs: chain, star, two components, self-loop,
duplicate edges, plus randomized (fixed-seed) graphs with long and
hex-string node ids.

The closure has two paths: Spark supersteps, and the driver finish that
takes over once the working edge set holds at most
``closure.LOCAL_FINISH_EDGES`` edges.  Tests of the Spark path pin it
with the ``spark_path`` fixture (bound 0); the rest run the driver
finish, at entry or after a superstep."""

import math
import random

import networkx as nx
import numpy as np
import pyarrow as pa
import pytest

from polars_iptools_spark.operators import closure
from polars_iptools_spark.operators.closure import connected_components

CASES = {
    "chain": [(1, 2), (2, 3), (3, 4), (4, 5)],
    "star": [(10, 1), (10, 2), (10, 3)],
    "two_components": [(1, 2), (2, 3), (7, 8)],
    "self_loop": [(1, 1), (1, 2), (5, 5)],
    "dup_edges": [(1, 2), (2, 1), (1, 2), (3, 4)],
}


def oracle(edges):
    """node -> minimum node of its component; rows with a null end are
    dropped, as the closure drops them."""
    g = nx.Graph()
    g.add_edges_from((a, b) for a, b in edges if a is not None and b is not None)
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


@pytest.fixture
def spark_path(monkeypatch):
    """Run the closure on Spark supersteps only: with a bound of 0 no
    non-empty edge set finishes on the driver."""
    monkeypatch.setattr(closure, "LOCAL_FINISH_EDGES", 0)


@pytest.mark.usefixtures("spark_path")
@pytest.mark.parametrize("name", list(CASES))
def test_closure_matches_networkx(spark, name):
    edges = CASES[name]
    assert spark_cc(spark, edges) == oracle(edges)


@pytest.mark.usefixtures("spark_path")
def test_closure_random_graph(spark):
    import random

    rnd = random.Random(42)
    edges = [(rnd.randrange(200), rnd.randrange(200)) for _ in range(300)]
    edges = [(a, b) for a, b in edges]
    assert spark_cc(spark, edges) == oracle(edges)


@pytest.mark.usefixtures("spark_path")
def test_closure_hex_string_ids(spark):
    """128-bit hex-string node ids (the pipeline's rid form) close like
    numbers: the component is the minimum id in string order."""
    import random

    rnd = random.Random(11)
    ids = [f"{rnd.getrandbits(128):032x}" for _ in range(120)]
    edges = [(rnd.choice(ids), rnd.choice(ids)) for _ in range(150)]
    assert spark_cc(spark, edges, "src string, dst string") == oracle(edges)


@pytest.mark.usefixtures("spark_path")
def test_closure_job_count_one_superstep(spark):
    """Spark jobs for a closure that converges in one superstep, with a
    self-loop-only node, result collect included.  An earlier plan
    (normalize checkpoint, a separate edge count, groupBy + join-back
    stars, limit-1 self-loop probe) ran 19 jobs on this input at
    local[4] with 4 shuffle partitions; windowed stars, normalize
    folded into superstep 0, and the edge and self-loop counts riding
    on superstep 0's forest check run 12, plus the one-job entry probe
    for the driver finish."""
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


@pytest.mark.usefixtures("spark_path")
@pytest.mark.parametrize("name", list(CASES))
def test_closure_peel_from_first_superstep(spark, name):
    """peel_after=0 splits settled stars off from superstep 0 on (after
    superstep 0's forest check, then in the fused peel plan); results
    must be identical to the oracle, self-loops included."""
    edges = CASES[name]
    df = spark.createDataFrame(edges, "src long, dst long")
    rows = connected_components(df, peel_after=0).collect()
    assert {r.node: r.component for r in rows} == oracle(edges)


@pytest.mark.usefixtures("spark_path")
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


@pytest.mark.usefixtures("spark_path")
def test_closure_peel_from_later_superstep(spark):
    """An int peel_after > 0 keeps its meaning: supersteps before it
    run without the peel joins, the ones from it on peel, and the
    result matches the oracle."""
    rnd = random.Random(7)
    edges = [(rnd.randrange(400), rnd.randrange(400)) for _ in range(260)]
    stats: dict = {}
    assert spark_cc(spark, edges, stats=stats, peel_after=2) == oracle(edges)
    assert stats["peel_after"] == 2 and stats["supersteps"] >= 3, stats


@pytest.mark.usefixtures("spark_path")
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


def random_edges(rnd: random.Random, ids: list) -> list:
    """Random edge rows over ``ids`` with the input shapes the closure
    must absorb: self-loops, one of them on a node with no other edge,
    duplicate and reversed rows, and two rows with a null end whose
    other end appears nowhere else."""
    *used, loner, null_a, null_b = ids
    base = [(rnd.choice(used), rnd.choice(used)) for _ in range(rnd.randrange(1, len(used)))]
    loops = [(x, x) for x in rnd.sample(used, 4)] + [(loner, loner)]
    again = [rnd.choice(base) for _ in range(len(base) // 4)]
    flipped = [(b, a) for a, b in rnd.sample(base, len(base) // 4)]
    rows = base + loops + again + flipped + [(null_a, None), (None, null_b)]
    rnd.shuffle(rows)
    return rows


@pytest.mark.parametrize("id_kind", ["long", "hex"])
@pytest.mark.parametrize("seed", range(6))
def test_local_finish_matches_networkx(spark, seed, id_kind):
    """The driver finish closes random graphs exactly like networkx:
    component = minimum id (string order for 128-bit hex rids),
    self-loop-only nodes are their own component, rows with a null end
    are dropped, duplicates and both orientations are absorbed."""
    rnd = random.Random(seed)
    n = rnd.randrange(20, 300)
    if id_kind == "long":
        ids, schema = rnd.sample(range(-(10**12), 10**12), n), "src long, dst long"
    else:
        ids, schema = [f"{rnd.getrandbits(128):032x}" for _ in range(n)], "src string, dst string"
    edges = random_edges(rnd, ids)
    stats: dict = {}
    assert spark_cc(spark, edges, schema, stats=stats) == oracle(edges)
    assert stats["local_edges"] == sum(a is not None and b is not None for a, b in edges)
    assert stats["supersteps"] == 1 and stats["superstep_edges"] == [], stats


@pytest.mark.usefixtures("spark_path")
@pytest.mark.parametrize("id_kind", ["long", "hex"])
def test_spark_path_matches_networkx_with_nulls(spark, id_kind):
    """The Spark supersteps keep the same contract on the same random
    shapes, null ends included."""
    rnd = random.Random(5)
    if id_kind == "long":
        ids, schema = list(range(150)), "src long, dst long"
    else:
        ids, schema = [f"{rnd.getrandbits(128):032x}" for _ in range(150)], "src string, dst string"
    edges = random_edges(rnd, ids)
    stats: dict = {}
    assert spark_cc(spark, edges, schema, stats=stats) == oracle(edges)
    assert "local_edges" not in stats and stats["superstep_edges"], stats


def test_local_finish_long_path_rounds(spark):
    """A randomly ordered 120k-node path (diameter 120k) closes in
    O(log n) hook rounds: plain min-label propagation would need one
    round per hop."""
    n = 120_000
    perm = np.random.default_rng(3).permutation(n)
    df = spark.createDataFrame(
        pa.table({"src": perm[:-1], "dst": perm[1:]}), "src long, dst long"
    )
    stats: dict = {}
    out = connected_components(df, stats=stats).toArrow()
    assert sorted(out["node"].to_pylist()) == list(range(n))
    assert set(out["component"].to_pylist()) == {0}
    assert stats["local_rounds"] <= 2 * math.log2(n) + 4, stats


def path_edges(n: int, seed: int) -> list:
    """A randomly ordered n-node path, every edge also duplicated and
    reversed: superstep 0 shrinks the rows but cannot converge."""
    perm = random.Random(seed).sample(range(n), n)
    path = list(zip(perm, perm[1:]))
    return path + path + [(b, a) for a, b in path]


@pytest.mark.parametrize("over", [0, 1], ids=["at_bound", "bound_plus_one"])
def test_local_finish_bound_at_entry(spark, monkeypatch, over):
    """An input of exactly LOCAL_FINISH_EDGES rows finishes on the
    driver with no Spark superstep; one row more runs the supersteps."""
    edges = path_edges(40, 1)
    monkeypatch.setattr(closure, "LOCAL_FINISH_EDGES", len(edges) - over)
    stats: dict = {}
    assert spark_cc(spark, edges, stats=stats) == oracle(edges)
    if over:
        assert stats["superstep_edges"][0] < len(edges), stats
    else:
        assert stats["superstep_edges"] == [] and stats["local_edges"] == len(edges), stats


@pytest.mark.parametrize("over", [0, 1], ids=["at_bound", "bound_plus_one"])
def test_local_finish_bound_after_superstep(spark, monkeypatch, over):
    """A superstep-0 remnant of exactly LOCAL_FINISH_EDGES edges is
    finished on the driver right after that superstep's forest check;
    a remnant one edge larger runs superstep 1 on Spark.  The remnant
    size is read from a Spark-path run of the same input."""
    edges = path_edges(40, 2)
    monkeypatch.setattr(closure, "LOCAL_FINISH_EDGES", 0)
    probe: dict = {}
    spark_cc(spark, edges, stats=probe)
    remnant = probe["superstep_edges"][0]
    assert 0 < remnant < len(edges) - 1 and probe["supersteps"] > 2, probe
    monkeypatch.setattr(closure, "LOCAL_FINISH_EDGES", remnant - over)
    stats: dict = {}
    assert spark_cc(spark, edges, stats=stats) == oracle(edges)
    assert stats["superstep_edges"][0] == remnant, stats
    if over:
        assert len(stats["superstep_edges"]) >= 2, stats
    else:
        assert stats["local_edges"] == remnant and stats["supersteps"] == 2, stats
        assert len(stats["superstep_walls"]) == 2, stats


def test_local_finish_job_count(spark):
    """The driver finish runs at most 2 Spark jobs, result collect
    included: the entry probe, and the collect (a local relation needs
    none)."""
    sc = spark.sparkContext
    edges = [(10, 1), (10, 2), (10, 3), (20, 21), (21, 22), (20, 22), (5, 5)]
    df = spark.createDataFrame(edges, "src long, dst long")
    sc.setJobGroup("closure_local_job_count", "closure driver-finish job-count guard")
    try:
        got = {r.node: r.component for r in connected_components(df).collect()}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert got == oracle(edges)
    jobs = sc.statusTracker().getJobIdsForGroup("closure_local_job_count")
    assert len(jobs) <= 2, len(jobs)
