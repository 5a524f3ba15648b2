"""Blocking + skew-safe candidate-pair generation.

Blocking key = (asn, /24 prefix, lang) per the north_star.  The key
distribution is Zipf-skewed by construction (one ASN / one /24 can
dominate), and AQE's skew handling covers joins but not the groupBy —
so oversized blocks are handled explicitly:

1. a cheap ``groupBy(block_key).count()`` histogram is computed first;
2. blocks above ``max_block_records`` get a *recall-preserving key
   refinement*: the full indicator IP is appended to the key.  Records
   of the same entity always share the exact indicator, so no true
   pair is lost, while the quadratic pair blow-up of a hot /24 is cut
   to per-IP groups;
3. the histogram is broadcast (it is tiny relative to the corpus) and
   the pair self-join runs on the refined key with AQE skew-join on.

This is the measured-salt strategy of SURVEY.md §4.2: the refinement
*is* the salt, chosen from data, not guessed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import iptools
from ..functions._par import pinned_partitions


def record_id(*cols: str) -> Column:
    """Deterministic 64-bit record identity as a native LONG:
    ``xxhash64(1, *cols)``.

    Why a long and not a wider key: the rid is the join/sort key of the
    pipeline's three big shuffles (pairs, edges, every closure
    superstep), and fixed-width 8-byte keys are the ONLY encoding
    Tungsten sorts/joins at full speed — measured on a 14M-edge clique
    closure at local[8]: 33.6 s as longs vs 73.3 s as 32-char hex and
    74.1 s as binary(16) (variable-length key handling, not key width,
    is the cost; BENCH/BASELINE.md §8).  That 2.2x tax ran through the
    edge-heavy closure's dominant stage.

    Collision exposure: a 64-bit key over n records expects
    ~n^2 / 2^65 birthday collisions — ≈2.7e-9 at 10M records,
    ≈2.7e-5 at 1B, ≈27k at the 10^12 north-star scale.  A collision
    silently merges two records into one rid, so the pipeline exposes
    :func:`audit_rid_collisions` (one map-side-combinable pass) and
    ``run_pipeline(audit_rids=True)`` runs it up front and raises on a
    hit; at 10^12 scale run the audit once per corpus snapshot and
    remap the handful of colliding records (or switch their rid to
    :func:`record_id128`, which the committed output mapping can carry
    without touching the hot shuffles).
    """
    return F.xxhash64(F.lit(1), *cols)


def record_id128(*cols: str) -> Column:
    """128-bit record identity as a 16-byte BINARY key: two
    independently-seeded xxhash64 halves (the prepended literal seed
    perturbs the whole hash state); expectation ≈ n^2 / 2^129
    collisions — negligible at any realistic corpus size (1.5e-15 at
    10^12 records).

    Not the hot-path key (see :func:`record_id` for the measured 2.2x
    Tungsten tax of variable-length keys in the closure shuffles) —
    use it for committed output mappings / audit tables where identity
    must survive corpus scales at which 64 bits can collide.  ANSI
    mode forbids CAST(BIGINT AS BINARY), so the bytes go through
    unhex(hex(...)).
    """
    h1 = F.lpad(F.hex(F.xxhash64(F.lit(1), *cols)), 16, "0")
    h2 = F.lpad(F.hex(F.xxhash64(F.lit(2), *cols)), 16, "0")
    return F.unhex(F.concat(h1, h2))


def audit_rid_collisions(corpus: DataFrame, *cols: str) -> int:
    """Count 64-bit rid collisions in a corpus: rids carrying more than
    one distinct identity tuple.  One linear, map-side-combinable
    aggregation pass (groupBy rid → countDistinct identity); returns
    the number of COLLIDING RIDS (0 in any healthy corpus — see the
    birthday math in :func:`record_id`)."""
    key_cols = list(cols) or ["repo", "path", "commit"]
    return (
        corpus.select(
            record_id(*key_cols).alias("rid"), F.struct(*key_cols).alias("k")
        )
        .groupBy("rid")
        .agg(F.count_distinct("k").alias("n"))
        .where(F.col("n") > 1)
        .count()
    )


def extract_indicators(corpus: DataFrame, ipv6: bool = False) -> DataFrame:
    """corpus -> one row per (record, public indicator IP).

    rid is a deterministic 64-bit LONG key of the record identity (see
    :func:`record_id` for the fixed-width-shuffle rationale and the
    collision math/audit); the content sha256 invariant column rides
    along (BASELINE.json).
    """
    base = corpus.select(
        record_id("repo", "path", "commit").alias("rid"),
        "repo",
        "path",
        "commit",
        "lang",
        F.sha2("content", 256).alias("content_sha"),
        # array_distinct BEFORE explode: (rid, ip) uniqueness without a
        # full-table dropDuplicates shuffle — at 100 TB that shuffle is
        # a whole extra pass over the widest table in the pipeline, and
        # its (rid, ip) partitioning is never reused downstream.  A
        # record repeating an IP dedups here; exact-duplicate corpus
        # rows (same repo/path/commit → same rid) surface as duplicate
        # pairs that the closure's edge-normalize dedups anyway.
        F.array_distinct(
            iptools.extract_public_ips("content", ipv6=ipv6)
        ).alias("ips"),
    )
    return base.select(
        "rid", "repo", "path", "commit", "lang", "content_sha",
        F.explode("ips").alias("ip"),
    )


def pseudo_asn(ip: Column) -> Column:
    """Deterministic ASN-shaped key from the /16 prefix — the stand-in
    enrichment when no MMDB is configured (synthetic corpora)."""
    prefix16 = F.substring_index(ip, ".", 2)
    return F.pmod(F.xxhash64(prefix16), F.lit(4096)).alias("asn")


def ip_prefix(ip: Column) -> Column:
    """Blocking prefix per the north_star: /24 for IPv4 (first three
    octets), /48 for IPv6 (first three hextets of the EXPANDED form).
    Pure Catalyst expression.

    The v6 branch expands ``::`` compression properly — naive
    token-slicing puts ``2606:4700::1111`` and ``2606:4700:0:1::1``
    (same /48) in different blocks.  Hextets are lowercased and
    leading-zero-stripped so non-canonical inputs still group with
    canonical ones.
    """
    norm = lambda toks: F.transform(  # noqa: E731
        toks, lambda x: F.regexp_replace(F.lower(x), "^0+(?=[0-9a-f])", "")
    )
    head = F.substring_index(ip, "::", 1)
    tail = F.when(ip.contains("::"), F.substring_index(ip, "::", -1)).otherwise(
        F.lit("")
    )
    htoks = norm(F.filter(F.split(head, ":"), lambda x: x != ""))
    ttoks = norm(F.filter(F.split(tail, ":"), lambda x: x != ""))
    # a trailing dotted-quad token spans two 16-bit groups
    tgroups = F.aggregate(
        ttoks, F.lit(0), lambda a, x: a + F.when(x.contains("."), 2).otherwise(1)
    )
    gap = F.when(ip.contains("::"), 8 - F.size(htoks) - tgroups).otherwise(F.lit(0))
    zeros = F.when(gap > 0, F.array_repeat(F.lit("0"), gap)).otherwise(
        F.array().cast("array<string>")
    )
    first3 = F.concat_ws(":", F.slice(F.concat(htoks, zeros, ttoks), 1, 3))
    return F.when(ip.contains(":"), F.concat(first3, F.lit("::/48"))).otherwise(
        F.substring_index(ip, ".", 3)
    )


def with_block_key(indicators: DataFrame, asn_col: Column | None = None) -> DataFrame:
    asn = asn_col if asn_col is not None else pseudo_asn(F.col("ip"))
    return indicators.withColumn("asn", asn).withColumn(
        "block_key",
        F.concat_ws(
            "|",
            F.col("asn").cast("string"),
            ip_prefix(F.col("ip")),
            F.col("lang"),
        ),
    )


def block_histogram(blocked: DataFrame) -> DataFrame:
    return blocked.groupBy("block_key").agg(F.count(F.lit(1)).alias("block_rows"))


def refine_oversized_blocks(
    blocked: DataFrame, histogram: DataFrame, max_block_records: int = 256
) -> DataFrame:
    hot = histogram.where(F.col("block_rows") > max_block_records)
    return (
        blocked.join(F.broadcast(hot), "block_key", "left")
        .withColumn(
            "block_key",
            F.when(
                F.col("block_rows").isNotNull(),
                F.concat_ws("|", "block_key", "ip"),
            ).otherwise(F.col("block_key")),
        )
        .drop("block_rows")
    )


def candidate_pairs(
    blocked: DataFrame, max_pairs_per_record: int | None = None
) -> DataFrame:
    """Self-join on the (refined) blocking key, rid_a < rid_b.

    Both sides are explicitly hash-repartitioned on the key with a
    pinned partition count: the join *input* is small but its output
    explodes quadratically per block, and AQE would otherwise coalesce
    the input exchanges by byte size and serialize the blow-up onto a
    handful of tasks.  An explicit user repartition is exempt from AQE
    coalescing, so the pair generation keeps full-cluster parallelism.
    """
    cols = ["rid", "ip", "path", "repo", "block_key"]
    narrowed = blocked.select(cols).repartition(
        pinned_partitions(blocked), "block_key"
    )
    a = narrowed.select(
        [F.col(c).alias(f"{c}_a" if c != "block_key" else c) for c in cols]
    )
    b = narrowed.select(
        [F.col(c).alias(f"{c}_b" if c != "block_key" else c) for c in cols]
    )
    pairs = a.join(b, "block_key").where(F.col("rid_a") < F.col("rid_b"))
    if max_pairs_per_record:
        from pyspark.sql import Window

        w = Window.partitionBy("rid_a").orderBy("rid_b")
        pairs = pairs.withColumn("_rn", F.row_number().over(w)).where(
            F.col("_rn") <= max_pairs_per_record
        ).drop("_rn")
    return pairs
