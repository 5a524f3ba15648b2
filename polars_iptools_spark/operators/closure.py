"""Distributed connected components via alternating large-star /
small-star contractions (Kiveris et al., "Connected Components in
MapReduce and Beyond", SOCC'14 — public algorithm, re-derived here on
the Spark DataFrame API).

Why this shape at 100 TB: each star is one hash-partitioned pass — the
per-node minimum is a window over the rows as they are partitioned,
never a groupBy joined back against the edge set — so a superstep is
three shuffles (large-star window, small-star window, small-star
dedup); edge count shrinks monotonically toward star graphs, and
convergence is detected by checking the 2-level-forest termination
state directly (one constant-size aggregation — no driver-side edge
collection, and no extra changed-nothing superstep).  Lineage is
truncated per superstep with ``localCheckpoint`` or plans grow
exponentially (SURVEY.md §4.2).
"""

from __future__ import annotations

import time

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


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
    job, so resolving ``peel_after="auto"`` and the self-loop contract
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


PEEL_AUTO_THRESHOLD = 1_000_000


def connected_components(
    edges: DataFrame, max_iterations: int = 50,
    stats: dict | None = None, peel_after: int | str | None = "auto",
) -> DataFrame:
    """(src,dst) edge list -> (node, component) with component = the
    minimum node id of the connected component.

    Nodes appearing only in self-loops / isolated are still returned
    (component = themselves).

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

    The peel's extra per-superstep joins are a fixed cost while its
    benefit scales with the settled mass, so the default (``"auto"``)
    resolves by size, from the edge count that superstep 0's forest
    check returns with its verdict (no job of its own).  When that
    count is ≥ ``PEEL_AUTO_THRESHOLD`` it resolves to 0: superstep 0's
    settled stars are split off its materialized edges right after the
    check, and every later superstep peels (at corpus scale the bulk
    of an entity-resolution graph is small clusters that are star
    forests within one contraction — measured 45 s vs 67 s on the
    9.8M-node giant input).  Else it resolves to 2, so that small /
    near-clique workloads that converge in ≤2 supersteps never pay the
    joins (peeling from superstep 0 added 0.25-0.35 s to the linkage
    pipeline's closure stage).  Pass an int to pin the first peeling
    superstep, or ``None`` to disable peeling.

    There is no separate normalize pass: superstep 0 reads the input
    minus its self-loops, duplicates and both orientations included
    (large_star unions both orientations, small_star dedups its own
    output).

    ``stats``: optional dict that receives ``{"supersteps": k}`` — the
    scale-evidence hook (superstep count is the O(log diameter) bound
    a giant component must not break) — plus driver-measured phase
    walls (``normalize_s``: the driver seconds before superstep 0, plan
    building only since normalizing is folded into it;
    ``superstep_walls``: the per-iteration star-contract + checkpoint +
    forest-check seconds) and the resolved ``peel_after``, so a slow run
    can be attributed to a phase instead of adjudicated by total wall
    (every superstep ends in an eager ``localCheckpoint``, so its work
    runs inside its own loop iteration).
    """
    aligned = _aligned(edges)
    t0 = time.monotonic()
    # superstep 0 reads the raw edges: duplicates and either
    # orientation are absorbed by large_star's union of both
    # orientations and small_star's dedup
    e = aligned.where(F.col("src") != F.col("dst"))
    loops = aligned.where(F.col("src") == F.col("dst")).select(F.col("src").alias("node"))
    if stats is not None:
        stats["normalize_s"] = round(time.monotonic() - t0, 2)
        stats["superstep_walls"] = []
        stats["peel_after"] = peel_after
    frozen: list[DataFrame] = []
    for step in range(max_iterations):
        t0 = time.monotonic()
        e = _small_star(_large_star(e))
        flagged = None
        if step > 0 and isinstance(peel_after, int) and step >= peel_after:
            # ONE materialization job per superstep: the contract, the
            # violation aggregation, the dirty-root derivation and the
            # flag join all live in the same plan, and the done-probe
            # + peel split are cheap filters over the checkpointed
            # result.  Splitting these into separate eager checkpoints
            # costs one job-scheduling round-trip each — which
            # DOMINATES the post-peel supersteps, where the working set
            # is only the still-churning remnant.
            flagged = _flag_dirty(e).localCheckpoint(eager=True)
            done = flagged.where(F.col("__dirty") == 1).isEmpty()
        else:
            e = e.localCheckpoint(eager=True)
            if step > 0:
                done = _forest_check(e)[0]
            else:
                # superstep 0 always checks: its check also resolves
                # "auto" and finds the self-loop-only nodes
                done, n_edges, n_loop_only = _forest_check(e, loops)
                if peel_after == "auto":
                    peel_after = 0 if n_edges >= PEEL_AUTO_THRESHOLD else 2
                    if stats is not None:
                        stats["peel_after"] = peel_after
                if peel_after == 0 and not done:
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
        if done:
            if stats is not None:
                stats["supersteps"] = step + 1
            break
    else:
        raise RuntimeError(f"closure did not converge in {max_iterations} supersteps")
    # converged: edges (working set + peeled stars) are (node, root)
    # stars.  In a 2-level forest no dst is ever a src
    # (_forest_check), so the root set is EXACTLY distinct(dst) —
    # emitting roots from the converged star edges replaces the
    # previous all-nodes path, an O(2|E|) union+dedup over the RAW
    # input plus an O(|V|) anti-join, with a dedup over |components|
    # rows.  At the 9.8M-node giant-closure input that all-nodes path
    # was a 13M-row shuffle + 9.8M-row anti-join spent almost entirely
    # on re-deriving what the forest already states.
    for fr in frozen:
        e = e.union(fr)
    assign = e.select(F.col("src").alias("node"), F.col("dst").alias("component"))
    roots = e.select(F.col("dst").alias("node"), F.col("dst").alias("component"))
    out = assign.union(roots.dropDuplicates())
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
