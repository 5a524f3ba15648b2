"""End-to-end record-linkage pipeline (the north_star):

corpus (repo, path, commit, lang, content)
  → 01 normalize + sha256 invariant + extract/canonicalize indicators
    (JVM-side for IPv4)
  → 02 enrich + block on (asn, /24 or /48 prefix, lang) — broadcast
    interval trie (GeoLite2 ASN when configured, pseudo-ASN otherwise)
    — then histogram-measured refinement of oversized (Zipf-hot)
    blocks, ONE committed stage (the blocked intermediate feeds the
    histogram and the refinement join either through a persist — when
    enrichment is UDF-priced — or by recomputing the pure-Catalyst
    block keys over the committed stage-01 parquet, whichever is
    cheaper; see ``persist_blocked``)
  → 03 candidate self-join (rid_a < rid_b, AQE-exempt repartition) +
    JVM-only score upper bound → hot candidates → batched Jaro-Winkler
    + materialized Levenshtein exact scoring, committed as ONE
    near-edge-sized scored table (the quadratic pair stream itself is
    NEVER materialized: at 10^12-file scale checkpointing the pair
    blow-up would dominate all I/O; the Python scorer sees only the
    ~2% of pairs whose JVM-computed upper bound can reach threshold)
  → 04 threshold → edges (a pushed-down filter of the committed scored
    table, no extra commit) → large-star/small-star transitive
    closure, localCheckpoint per superstep → cluster table

Each of the four stages is committed through :class:`StageRunner`
(parquet + per-partition lineage metrics), so a killed run resumes
from the last committed stage.  Four commits, not six: every
commit+read cycle is a serial pass whose fixed cost is what caps
N-vs-4N scaling efficiency once the compute stages parallelize well —
round-2 measured the six-cycle layout at 0.77 with the two compute
stages at 0.89+.  Invoked either via the API or ``spark-submit
--py-files pipeline_job.zip`` (see BENCH/run_bench.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..functions._par import ensure_parallelism
from ..operators.closure import connected_components
from . import blocking, scoring
from .checkpoint import StageRunner

DEFAULT_THRESHOLD = 0.72


def run_pipeline(
    spark: SparkSession,
    corpus: DataFrame,
    ckpt_dir: str,
    threshold: float = DEFAULT_THRESHOLD,
    max_block_records: int = 256,
    mmdb_dir: str | None = None,
    ipv6: bool = False,
    audit_rids: bool = False,
    persist_blocked: bool | None = None,
) -> dict:
    """Returns dict with 'clusters' (rid, commit, cluster_id), 'edges',
    'metrics' (per-stage lineage).

    ``audit_rids``: run :func:`blocking.audit_rid_collisions` over the
    corpus first and raise if any 64-bit rid collides (one linear
    pass; see the birthday math in :func:`blocking.record_id` — at
    10^12-record scale turn this on once per corpus snapshot).

    Dirty-corpus caveat (documented tradeoff, see
    blocking.extract_indicators): EXACT-duplicate corpus rows — same
    (repo, path, commit), hence the same rid — emit duplicate
    (rid, ip) indicator rows rather than paying a corpus-wide
    dropDuplicates shuffle.  Final clusters stay correct (the closure's
    edge normalize dedups), but block_histogram counts are inflated
    (possibly triggering refinement early) and affected pairs are
    scored up to 4x.  If duplicate rows are expected, dedup the corpus
    once upstream on (repo, path, commit) — cheaper than a wide
    (rid, ip) dropDuplicates here.
    """
    if audit_rids:
        n_bad = blocking.audit_rid_collisions(corpus)
        if n_bad:
            raise ValueError(
                f"{n_bad} rid collision(s): distinct (repo, path, commit) "
                "tuples share a 64-bit rid — remap the colliding records "
                "or key them by blocking.record_id128"
            )
    if persist_blocked is None:
        persist_blocked = mmdb_dir is not None
    runner = StageRunner(spark, ckpt_dir)
    _to_unpersist: list[DataFrame] = []

    indicators = runner.stage(
        "01_indicators",
        lambda: blocking.extract_indicators(ensure_parallelism(corpus), ipv6=ipv6),
    )

    def _refined():
        if mmdb_dir:
            from ..functions import geoip

            blocked = blocking.with_block_key(
                indicators,
                asn_col=geoip.full("ip", db_dir=mmdb_dir)["asnnum"],
            )
        else:
            blocked = blocking.with_block_key(indicators)
        # blocked feeds BOTH the histogram and the refinement join.
        # persist_blocked=True materializes it once in executor
        # storage; False recomputes the block keys in both passes over
        # the committed stage-01 parquet.  Default (None) persists only
        # when an MMDB is configured: then block keys cost a broadcast-
        # table Arrow UDF per row and recomputation doubles the
        # enrichment bill, whereas the pseudo-ASN path is a pure-
        # Catalyst projection that is CHEAPER to recompute than to
        # persist — measured 4.7-5.0 s vs 6.3-7.1 s for the whole
        # stage at 2.4M files/local[8] across four gated A/B runs
        # (/dev/shm parquet, GC-pinned), and skipping the persist
        # removes a whole-indicator-table executor-storage allocation
        # right after stage 01's memory churn (the same-JVM GC
        # pressure the stage-02 probes in BENCH/BASELINE.md measured
        # at the wide level).
        if persist_blocked:
            blocked = blocked.persist(StorageLevel.MEMORY_AND_DISK)
            _to_unpersist.append(blocked)
        return blocking.refine_oversized_blocks(
            blocked, blocking.block_histogram(blocked), max_block_records
        )

    refined = runner.stage("02_refined", _refined)
    for df in _to_unpersist:
        df.unpersist()

    pairs = blocking.candidate_pairs(refined)
    scored = runner.stage(
        "03_scored",
        lambda: scoring.exact_score_hot(
            scoring.hot_candidates(pairs, threshold=threshold)
        ).select("rid_a", "rid_b", "score", "block_key"),
    )

    # edges: a column-pruned, predicate-pushed filter of the committed
    # scored parquet — re-derivable for free, so not a commit of its own
    edges = scored.where(F.col("score") >= threshold).select(
        F.col("rid_a").alias("src"), F.col("rid_b").alias("dst")
    )

    def _clusters():
        comp = connected_components(edges)
        members = refined.select("rid", "commit").dropDuplicates(["rid"])
        return (
            members.join(comp, members.rid == comp.node, "left")
            .select(
                "rid",
                "commit",
                F.coalesce(F.col("component"), F.col("rid")).alias("cluster_id"),
            )
        )

    clusters = runner.stage("04_clusters", _clusters)

    return {
        "indicators": indicators,
        "blocked": refined,
        "pairs": pairs,
        "scored": scored,
        "edges": edges,
        "clusters": clusters,
        "metrics": runner.metrics,
    }


def pairwise_f1(
    clusters: DataFrame, truth: DataFrame, blocked: DataFrame,
    method: str = "auto",
) -> dict:
    """Pairwise precision/recall/F1 over all same-base-blocking-key
    pairs (BASELINE.json metric): label = same entity, prediction =
    same cluster.

    ``method="count"`` computes the identical tp/fp/fn WITHOUT
    materializing pairs — three map-side-combinable groupBy counts with
    sum-of-C(n,2) per (base_key x entity), (base_key x cluster) and
    (base_key x entity x cluster):

        tp = sum C(n_ec, 2); fp = sum C(n_c, 2) - tp; fn = sum C(n_e, 2) - tp

    Exactly equal to the pair join when every rid carries ONE base key
    (single public indicator per record — true for the synthetic corpus
    family); with multi-key rids the join path dedups cross-block pairs
    that counting would double-count, so ``"auto"`` probes key
    multiplicity and falls back to ``"pairs"``.  The counting path is
    what makes a skewed corpus evaluable: a hot block of k rows costs
    O(k) here vs O(k^2) pair rows in the join."""
    labeled = (
        blocked.select("rid", "commit", "block_key")
        .dropDuplicates(["rid", "block_key"])
        .join(truth, "commit")
    )
    base_key = F.concat_ws(
        "|",
        F.split_part("block_key", F.lit("|"), F.lit(1)),
        F.split_part("block_key", F.lit("|"), F.lit(2)),
        F.split_part("block_key", F.lit("|"), F.lit(3)),
    )
    lab = labeled.withColumn("base_key", base_key).join(
        clusters.select("rid", "cluster_id"), "rid"
    )
    if method == "auto":
        multi = (
            lab.groupBy("rid")
            .agg(F.countDistinct("base_key").alias("k"))
            .where(F.col("k") > 1)
            .limit(1)
            .count()
            > 0
        )
        method = "pairs" if multi else "count"
    if method == "count":
        lab = lab.persist()

        def _sum_pairs(*keys):
            g = lab.groupBy(*keys).agg(F.count(F.lit(1)).alias("n"))
            # integer DIV, not /: the float sum loses exactness past
            # 2^53 total pairs (reachable with hot entities at corpus
            # scale); n*(n-1) is even so DIV 2 is exact, and ANSI mode
            # (pinned true in session.get_spark, not just inherited
            # from Spark 4.x defaults) turns a genuine long overflow
            # into an error, never a silently-wrong F1
            row = g.agg(
                F.sum(F.expr("n * (n - 1) DIV 2")).alias("p")
            ).collect()[0]
            return int(row.p or 0)

        both = _sum_pairs("base_key", "entity", "cluster_id")
        same_cl = _sum_pairs("base_key", "cluster_id")
        same_ent = _sum_pairs("base_key", "entity")
        lab.unpersist()
        tp, fp, fn = both, same_cl - both, same_ent - both
        precision = tp / (tp + fp) if tp + fp else 1.0
        recall = tp / (tp + fn) if tp + fn else 1.0
        f1 = (
            2 * precision * recall / (precision + recall)
            if precision + recall
            else 0.0
        )
        return {
            "tp": tp, "fp": fp, "fn": fn,
            "precision": precision, "recall": recall, "f1": f1,
        }
    a = lab.select(
        F.col("base_key"),
        F.col("rid").alias("rid_a"),
        F.col("entity").alias("ent_a"),
        F.col("cluster_id").alias("cl_a"),
    )
    b = lab.select(
        F.col("base_key"),
        F.col("rid").alias("rid_b"),
        F.col("entity").alias("ent_b"),
        F.col("cluster_id").alias("cl_b"),
    )
    pairs = (
        a.join(b, "base_key")
        .where(F.col("rid_a") < F.col("rid_b"))
        .dropDuplicates(["rid_a", "rid_b"])
    )
    agg = pairs.agg(
        F.sum(((F.col("ent_a") == F.col("ent_b")) & (F.col("cl_a") == F.col("cl_b"))).cast("long")).alias("tp"),
        F.sum(((F.col("ent_a") != F.col("ent_b")) & (F.col("cl_a") == F.col("cl_b"))).cast("long")).alias("fp"),
        F.sum(((F.col("ent_a") == F.col("ent_b")) & (F.col("cl_a") != F.col("cl_b"))).cast("long")).alias("fn"),
    ).collect()[0]
    tp, fp, fn = (int(agg.tp or 0), int(agg.fp or 0), int(agg.fn or 0))
    precision = tp / (tp + fp) if tp + fp else 1.0
    recall = tp / (tp + fn) if tp + fn else 1.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    return {"tp": tp, "fp": fp, "fn": fn, "precision": precision, "recall": recall, "f1": f1}
