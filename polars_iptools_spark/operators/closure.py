"""Distributed connected components via alternating large-star /
small-star contractions (Kiveris et al., "Connected Components in
MapReduce and Beyond", SOCC'14 — public algorithm, re-derived here on
the Spark DataFrame API), finished on the driver once the working edge
set is small.

Why this shape at 100 TB: each star is one hash-partitioned pass — the
per-node minimum is a window over the rows as they are partitioned,
never a groupBy joined back against the edge set — so a superstep is
three shuffles (large-star window, small-star window, small-star
dedup); edge count shrinks monotonically toward star graphs, and
convergence is detected by checking the 2-level-forest termination
state directly (one constant-size aggregation, and no extra
changed-nothing superstep).  Lineage is truncated per superstep with
``localCheckpoint`` or plans grow exponentially (SURVEY.md §4.2).

Why the driver finish: a superstep costs its shuffles and jobs whatever
the edge count, so on a small graph, or on the remnant a high-diameter
component leaves after the bulk has settled, the closure is bound by
job latency, not compute.  Once the working set holds at most
``LOCAL_FINISH_EDGES`` edges — at entry, or at any superstep's forest
check — it is collected and closed by one vectorized NumPy
hook-and-pointer-jump pass (the Shiloach–Vishkin / FastSV scheme,
Zhang, Azad & Hu, SIAM PP 2020).  The driver never holds more than
that bound of edge rows (plus one at entry).
"""

from __future__ import annotations

import time
from functools import reduce

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType


def _aligned(edges: DataFrame) -> DataFrame:
    """src/dst projected to ONE orderable type: node ids pass through
    when the two sides already agree (so 128-bit hex-string rids and
    native longs both work), else both are cast to long (legacy mixed
    numeric inputs)."""
    t_src = edges.schema["src"].dataType
    t_dst = edges.schema["dst"].dataType
    if t_src == t_dst:
        return edges.select("src", "dst")
    return edges.select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
    )


def _rows(*rows: list) -> Column:
    """Generator emitting one output row per column list in ``rows`` for
    every input row, so a rewrite into several rows is one projection
    over one scan instead of a union of projections."""
    return F.inline(F.array(*[F.struct(*r) for r in rows]))


def _large_star(edges: DataFrame) -> DataFrame:
    """For every node u: attach all strictly-larger neighbors to
    min(N(u) ∪ {u}).

    One hash-partitioned pass: the per-node minimum is a window over
    ``edges ∪ reversed(edges)`` partitioned by src, so each union row
    carries its node's minimum where the union is already partitioned
    — no groupBy and no join back against the doubled edge set (the
    UNION-ALL join pushdown of Teradata, SIGMOD'18).  Input may hold
    duplicates and either orientation of an edge: the union sees both
    orientations anyway.  No dedup here: small_star deduplicates its
    own output, keeping |E| monotone."""
    src, dst = F.col("src"), F.col("dst")
    nbrs = edges.union(edges.select(dst.alias("src"), src.alias("dst")))
    m = F.least(F.min("dst").over(Window.partitionBy("src")), src)
    # m <= src < dst, so every emitted edge has src > dst
    return (
        nbrs.select("src", "dst", m.alias("m"))
        .where(dst > src)
        .select(dst.alias("src"), F.col("m").alias("dst"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Attach each node's lower neighborhood (and the node) to its
    minimum.  Input edges have src > dst (large_star's output), so the
    per-src minimum of dst is the neighborhood minimum.

    Same windowed minimum as large_star; every row emits both (dst, m)
    and (src, m) through one generator, and the one dropDuplicates
    removes the per-row copies of (src, m)."""
    src, m = F.col("src"), F.col("m")
    return (
        edges.select("src", "dst", F.min("dst").over(Window.partitionBy("src")).alias("m"))
        .select(_rows([F.col("dst").alias("src"), m.alias("dst")], [src, m.alias("dst")]))
        .where(F.col("src") != F.col("dst"))
        .dropDuplicates()
    )


def _node_sides(edges: DataFrame, loops: DataFrame | None = None) -> DataFrame:
    """Per node: ``s`` = times it is a src, ``d`` = times it is a dst.
    Nodes of ``loops`` (a ``node`` column) join in with s = d = 0, so a
    node that has no edge but a self-loop comes out with s + d = 0."""
    one, zero = F.lit(1), F.lit(0)
    sides = edges.select(
        _rows(
            [F.col("src").alias("node"), one.alias("s"), zero.alias("d")],
            [F.col("dst").alias("node"), zero.alias("s"), one.alias("d")],
        )
    )
    if loops is not None:
        sides = sides.union(loops.select("node", zero.alias("s"), zero.alias("d")))
    return sides.groupBy("node").agg(F.sum("s").alias("s"), F.sum("d").alias("d"))


def _violating():
    """A node is violating unless it appears exactly once as src and
    never as dst (a settled star member) or only as dst (a settled
    star root)."""
    return (F.col("s") > 1) | ((F.col("s") > 0) & (F.col("d") > 0))


def _flag_dirty(edges: DataFrame) -> DataFrame:
    """Star edges plus ``__dirty`` = 1 on every edge whose root's star
    has a violating node (member or root), null on settled stars."""
    viol = _node_sides(edges).where(_violating()).select("node")
    dirty_roots = (
        edges.join(viol.withColumnRenamed("node", "src"), "src", "left_semi")
        .select("dst")
        .union(
            edges.join(viol.withColumnRenamed("node", "dst"), "dst", "left_semi")
            .select("dst")
        )
        .dropDuplicates()
    )
    return edges.join(dirty_roots.withColumn("__dirty", F.lit(1)), "dst", "left")


def _forest_check(edges: DataFrame, loops: DataFrame | None = None) -> tuple[bool, int, int]:
    """(converged, |edges|, loop-only nodes of ``loops``).  Converged ⟺
    the edge set is a forest of 2-level stars oriented member→root:
    every src appears exactly once and no src is also a dst.  This is
    the algorithm's documented termination state (Kiveris et al. §3:
    small-star/large-star converge to 2-level trees), and checking it
    directly saves the extra superstep a changed-nothing checksum
    comparison needs — on near-clique inputs (linkage blocks) that
    halves the superstep count.

    Sufficiency: both operators preserve connected components, so a
    2-level forest state means each star IS a whole component; and
    small_star output always has dst ≤ src (every emitted dst is the
    min of a neighborhood containing the src), so the star root is the
    component minimum — exactly the final assignment.

    One constant-size aggregation over the per-node sides, no driver
    edge collection.  The edge count (the sum of ``s``) and the count
    of self-loop nodes missing from the edges ride along in the same
    job, so the switch to the driver finish and the self-loop contract
    cost no job of their own."""
    row = (
        _node_sides(edges, loops)
        .agg(
            F.count(F.when(_violating(), 1)).alias("bad"),
            F.coalesce(F.sum("s"), F.lit(0)).alias("edges"),
            F.count(F.when(F.col("s") + F.col("d") == 0, 1)).alias("loop_only"),
        )
        .collect()[0]
    )
    return row["bad"] == 0, row["edges"], row["loop_only"]


# Largest working edge set finished on the driver.  The collected
# remnant is an Arrow table of at most this many rows; the NumPy pass
# over 1M edges takes about 0.4 s and 150 MB.
LOCAL_FINISH_EDGES = 1_000_000


def _hook_and_jump(u: np.ndarray, v: np.ndarray, n: int) -> tuple[np.ndarray, int]:
    """(label, rounds) for ``n`` dense nodes joined by the edges
    ``(u[i], v[i])``: label[x] = the smallest node of x's component.

    Each round hooks every node's parent and the node itself to the
    smallest parent across its edges (``np.minimum.at``), then
    pointer-jumps until every node points at its tree's root.  Labels
    only decrease and label[x] <= x throughout, so the parent pointers
    stay acyclic, and a round that changes nothing leaves every edge
    inside one tree whose root is its smallest node.  Hooking makes the
    round count grow with log(diameter); plain min-label propagation
    needs one round per hop of the diameter."""
    f = np.arange(n, dtype=u.dtype)
    rounds = 0
    while True:
        rounds += 1
        # f is a star forest here (the identity at first), so the
        # parent f[x] is also x's grandparent
        fu, fv = f[u], f[v]
        g = f.copy()
        np.minimum.at(g, np.concatenate([fu, fv, u, v]), np.concatenate([fv, fu, fv, fu]))
        while True:
            gg = g[g]
            if np.array_equal(gg, g):
                break
            g = gg
        if np.array_equal(g, f):
            return f, rounds
        f = g


def _local_components(spark, tbl: pa.Table, id_type) -> tuple[DataFrame, int]:
    """(node, component) of the null-free ``src``/``dst`` edges in
    ``tbl``, closed on the driver; also returns the hook rounds.

    Node ids are ranked in Spark's ordering of ``id_type`` (Arrow sorts
    integers by value and strings by UTF-8 bytes, as Spark does), so the
    smallest dense index of a component is its minimum id.  Self-loops,
    duplicates and both orientations need no special case: a self-loop
    node comes back as its own component."""
    ids = pa.concat_arrays([tbl["src"].combine_chunks(), tbl["dst"].combine_chunks()])
    nodes = pc.unique(ids)
    nodes = nodes.take(pc.array_sort_indices(nodes))
    dense = pc.index_in(ids, value_set=nodes).to_numpy()
    m = tbl.num_rows
    label, rounds = _hook_and_jump(dense[:m], dense[m:], len(nodes))
    out = pa.table({"node": nodes, "component": nodes.take(label)})
    schema = StructType([StructField("node", id_type), StructField("component", id_type)])
    return spark.createDataFrame(out, schema), rounds


def connected_components(
    edges: DataFrame, max_iterations: int = 50,
    stats: dict | None = None, peel_after: int | None = 0,
) -> DataFrame:
    """(src,dst) edge list -> (node, component) with component = the
    minimum node id of the connected component, in Spark's ordering of
    the id type.  Rows with a null ``src`` or ``dst`` are dropped.

    Nodes appearing only in self-loops / isolated are still returned
    (component = themselves).

    Driver finish: the input is first probed with
    ``limit(LOCAL_FINISH_EDGES + 1).toArrow()`` (one job).  When it
    holds at most ``LOCAL_FINISH_EDGES`` rows, no Spark superstep runs:
    the rows are closed on the driver (:func:`_hook_and_jump`) and come
    back as a local DataFrame.  Otherwise the Spark supersteps run, and
    as soon as a superstep's forest check counts a working set of at
    most ``LOCAL_FINISH_EDGES`` edges, that remnant is collected,
    closed on the driver and unioned with the peeled stars.  The count
    comes with the check, so the switch costs no job of its own.

    ``peel_after``: from this superstep on, stars that have fully
    settled are MOVED OUT of the working edge set instead of being
    re-contracted every remaining iteration.  This is the decisive
    scale property for the entity-resolution workload (a sea of small
    already-converged clusters plus one high-diameter component that
    alone drives the O(log d) iteration count): without peeling, the
    sea's |E| star edges ride through every superstep — at the 9.8M-node
    giant-closure input that is 6.4M frozen rows × 17 supersteps of
    pure re-shuffle.  Soundness: a star none of whose nodes violates
    the 2-level-forest condition is (a) a whole component — any edge
    touching a member or the root from outside would put that node in
    the violation set (member as src twice, member as dst, or root as
    src) or be part of the star's own dst-group — and (b) a fixpoint of
    both operators, so freezing it early yields exactly the edges the
    final forest would contain.

    The default 0 splits superstep 0's settled stars off its
    materialized edges right after its forest check, and every later
    superstep peels in the same job as its check: at corpus scale the
    bulk of an entity-resolution graph is small clusters that are star
    forests within one contraction (measured 45 s vs 67 s for peeling
    from superstep 2 on the 9.8M-node giant input).  Small and
    near-clique inputs, where the peel's joins would be a fixed cost
    with no benefit, never reach a peel: they finish on the driver.
    Pass a larger int to start peeling later, or ``None`` to disable
    peeling.

    There is no separate normalize pass: superstep 0 reads the input
    minus its self-loops, duplicates and both orientations included
    (large_star unions both orientations, small_star dedups its own
    output).

    ``stats``: optional dict that receives ``supersteps`` — the
    scale-evidence hook (superstep count is the O(log diameter) bound
    a giant component must not break), counting the driver finish as
    one — plus driver-measured phase walls, so a slow run can be
    attributed to a phase instead of adjudicated by total wall:
    ``normalize_s`` (driver seconds before the first superstep: plan
    building, plus the entry probe when the input is over the bound)
    and ``superstep_walls`` (per superstep, the star-contract +
    checkpoint + forest-check seconds, and last the driver finish's
    collect + NumPy + ``createDataFrame`` seconds; every Spark
    superstep ends in an eager ``localCheckpoint``, so its work runs
    inside its own loop iteration).  It also receives ``peel_after``,
    ``superstep_edges`` (the working-set size at each Spark forest
    check) and, when the driver finish ran, ``local_edges`` (the
    null-free rows it closed) and ``local_rounds`` (its hook rounds).
    """
    aligned = _aligned(edges)
    spark = aligned.sparkSession
    id_type = aligned.schema["src"].dataType
    t0 = time.monotonic()
    if stats is not None:
        stats.update(superstep_walls=[], superstep_edges=[], peel_after=peel_after)

    def finish_locally(tbl: pa.Table, t0: float) -> DataFrame:
        # the Spark path drops null ends in its src != dst / src == dst
        # filters; here they are dropped explicitly
        tbl = tbl.drop_null()
        out, rounds = _local_components(spark, tbl, id_type)
        if stats is not None:
            stats["superstep_walls"].append(round(time.monotonic() - t0, 2))
            stats["supersteps"] = len(stats["superstep_walls"])
            stats["local_edges"] = tbl.num_rows
            stats["local_rounds"] = rounds
        return out

    head = aligned.limit(LOCAL_FINISH_EDGES + 1).toArrow()
    if head.num_rows <= LOCAL_FINISH_EDGES:
        if stats is not None:
            stats["normalize_s"] = 0.0
        return finish_locally(head, t0)
    del head  # the supersteps may run for minutes: do not hold the probe's rows
    # superstep 0 reads the raw edges: duplicates and either
    # orientation are absorbed by large_star's union of both
    # orientations and small_star's dedup
    e = aligned.where(F.col("src") != F.col("dst"))
    loops = aligned.where(F.col("src") == F.col("dst")).select(F.col("src").alias("node"))
    if stats is not None:
        stats["normalize_s"] = round(time.monotonic() - t0, 2)
    frozen: list[DataFrame] = []
    local = None
    for step in range(max_iterations):
        t0 = time.monotonic()
        e = _small_star(_large_star(e))
        flagged = None
        if step > 0 and peel_after is not None and step >= peel_after:
            # ONE materialization job per superstep: the contract, the
            # violation aggregation, the dirty-root derivation and the
            # flag join all live in the same plan, and the dirty count
            # + peel split are cheap filters over the checkpointed
            # result.  Splitting these into separate eager checkpoints
            # costs one job-scheduling round-trip each — which
            # DOMINATES the post-peel supersteps, where the working set
            # is only the still-churning remnant.
            flagged = _flag_dirty(e).localCheckpoint(eager=True)
            n_edges = flagged.where(F.col("__dirty") == 1).count()
            done = n_edges == 0
        else:
            e = e.localCheckpoint(eager=True)
            # superstep 0's check also finds the self-loop-only nodes
            done, n_edges, loop_only = _forest_check(e, None if step else loops)
            if step == 0:
                n_loop_only = loop_only
                if peel_after == 0 and not done and n_edges > LOCAL_FINISH_EDGES:
                    # peel superstep 0's settled stars from its
                    # materialized edges now, so that they do not ride
                    # through superstep 1's stars
                    flagged = _flag_dirty(e).localCheckpoint(eager=True)
        if flagged is not None:
            if done:
                # all edges quiet: flagged IS the final forest
                e = flagged.select("src", "dst")
            else:
                frozen.append(
                    flagged.where(F.col("__dirty").isNull()).select("src", "dst")
                )
                e = flagged.where(F.col("__dirty") == 1).select("src", "dst")
        if stats is not None:
            stats["superstep_walls"].append(round(time.monotonic() - t0, 2))
            stats["superstep_edges"].append(n_edges)
            stats["supersteps"] = step + 1
        if done:
            break
        if n_edges <= LOCAL_FINISH_EDGES:
            local = finish_locally(e.toArrow(), time.monotonic())
            break
    else:
        raise RuntimeError(f"closure did not converge in {max_iterations} supersteps")
    # converged: the working set (unless finished locally) and the
    # peeled stars are (node, root) stars, which state every node's
    # component with no pass over the raw input.  In a 2-level forest
    # no dst is ever a src (_forest_check), so the roots are exactly
    # distinct(dst).
    stars = frozen if local is not None else [e, *frozen]
    out = local
    if stars:
        e = reduce(DataFrame.union, stars)
        assign = e.select(F.col("src").alias("node"), F.col("dst").alias("component"))
        roots = e.select(F.col("dst").alias("node"), F.col("dst").alias("component"))
        forest = assign.union(roots.dropDuplicates())
        out = forest if out is None else out.union(forest)
    # Contract: nodes appearing ONLY in self-loops still come back as
    # their own singleton component.  Superstep 0 drops src==dst rows,
    # so such nodes never reach the forest; superstep 0's forest check
    # counted them, so the common loop-free case skips this anti-join.
    if n_loop_only:
        loop_only = (
            loops.dropDuplicates()
            .join(out.select("node"), "node", "left_anti")
            .select("node", F.col("node").alias("component"))
        )
        out = out.union(loop_only)
    return out
