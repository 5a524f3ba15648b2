"""Deduplication operators for large-scale training-data pipelines.

All candidate generation is Spark-native (explode + hash-join + groupBy
— map-side combinable, AQE-coalesced); nothing here uses a Python
worker.  Exact dedup is a single hash aggregation; near-dup variants
(n-gram Jaccard, MinHash+LSH, SimHash) share the word-shingle
tokenizer and differ only in how candidates are generated.

Scale notes (100 TB): the shingle inverted index is the dominant
shuffle; ``max_shingle_freq`` drops stop-shingles (a shingle appearing
in k docs generates O(k²) pairs — a single hot shingle would dominate
the join), which is the standard skew guard for document dedup.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..functions._par import ensure_parallelism, pinned_partitions


class CacheScope:
    """Owner-scoped release for the one intermediate frame this module
    persists: the minhash shingle sets, which feed three differently
    shaped consumers (signatures, and both sides of the verification
    join).

    The handle is internal to the returned lazy plan, so
    :func:`minhash_lsh_pairs` cannot unpersist it after
    materialization — it stays in Spark's CacheManager until LRU
    eviction or session end, unless released through a scope or
    ``spark.catalog.clearCache()``.  Batch drivers processing many
    corpora in one session pass a scope and release it once the result
    is materialized::

        with CacheScope() as caches:
            minhash_lsh_pairs(df, "id", "text", caches=caches).write.parquet(p)
        # persisted shingle sets freed here
    """

    def __init__(self) -> None:
        self._frames: list[DataFrame] = []

    def add(self, df: DataFrame) -> DataFrame:
        self._frames.append(df)
        return df

    def release(self) -> None:
        for f in self._frames:
            try:
                f.unpersist()
            except Exception:
                pass
        self._frames.clear()

    def __enter__(self) -> "CacheScope":
        return self

    def __exit__(self, *exc) -> None:
        self.release()


def normalized(text: Column) -> Column:
    """Whitespace-collapsed lowercase text (shared by fingerprints)."""
    return F.regexp_replace(F.trim(F.lower(text)), r"\s+", " ")


def words(text: Column) -> Column:
    return F.split(normalized(text), " ")


def word_shingles(text: Column, k: int = 3) -> Column:
    """k-word shingles, JVM-side via higher-order functions."""
    w = words(text)
    n = F.size(w)
    return F.when(n < k, F.array()).otherwise(
        F.transform(
            F.sequence(F.lit(0), n - k),
            lambda i: F.concat_ws(" ", F.slice(w, i + 1, k)),
        )
    )


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One row per distinct content hash: the kept (minimum) id plus the
    duplicate count — the hash-groupBy exact dedup."""
    return (
        df.select(F.col(id_col), F.sha2(F.col(text_col), 256).alias("content_sha"))
        .groupBy("content_sha")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def _drop_hot_keys(df: DataFrame, keys: list[str], max_rows: int | None) -> DataFrame:
    """The one skew guard: drop the rows whose ``keys`` value more than
    ``max_rows`` rows hold (a key shared by k rows makes a self-join on
    it emit O(k²) pairs).  One ``count() OVER (PARTITION BY keys)``
    pass: the input is read once, and the output stays hash-partitioned
    on ``keys``, so a join or window on them needs no further exchange."""
    if not max_rows:
        return df
    n = F.count(F.lit(1)).over(Window.partitionBy(*keys))
    return df.withColumn("_n", n).where(F.col("_n") <= max_rows).drop("_n")


def _shingle_index(df: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    """One (doc, sh) row per distinct shingle of each doc."""
    return ensure_parallelism(df).select(
        F.col(id_col).alias("doc"),
        F.explode(F.array_distinct(word_shingles(F.col(text_col), k))).alias("sh"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.8,
    max_shingle_freq: int | None = 1000,
) -> DataFrame:
    """All pairs with shingle-set Jaccard >= threshold.

    Inverted-index join: |intersection| by counting shared shingles,
    |union| = |A|+|B|-|∩| from per-doc set sizes.
    """
    # the self-join's output explodes quadratically per shingle: pin
    # its fan-out (same reason as blocking.candidate_pairs).  The hot
    # guard's window runs on top of this exchange, so one shuffle on
    # ``sh`` serves the guard and the self-join
    idx = _shingle_index(df, id_col, text_col, k).repartition(
        pinned_partitions(df), "sh"
    )
    idx = _drop_hot_keys(idx, ["sh"], max_shingle_freq)
    sizes = idx.groupBy("doc").agg(F.count(F.lit(1)).alias("sz"))
    a = idx.select(F.col("doc").alias("doc_a"), "sh")
    b = idx.select(F.col("doc").alias("doc_b"), "sh")
    common = (
        a.join(b, "sh")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    out = (
        common.join(sizes.withColumnsRenamed({"doc": "doc_a", "sz": "sz_a"}), "doc_a")
        .join(sizes.withColumnsRenamed({"doc": "doc_b", "sz": "sz_b"}), "doc_b")
        .withColumn(
            "jaccard",
            F.col("common") / (F.col("sz_a") + F.col("sz_b") - F.col("common")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    return out


def shingle_sets(df: DataFrame, id_col: str, text_col: str, k: int = 3) -> DataFrame:
    """(doc, shs): distinct word-shingle array per doc — computed once,
    narrow (no shuffle), shared by minhash signatures and verification."""
    return ensure_parallelism(df).select(
        F.col(id_col).alias("doc"),
        F.array_distinct(word_shingles(F.col(text_col), k)).alias("shs"),
    ).where(F.size("shs") > 0)


def _minhash_sig_array(shs: Column, num_hashes: int) -> Column:
    """Signature array in ONE traversal of the shingle array: fold over
    shingles, each step zip_with-min'ing the accumulator against the
    shingle's ``num_hashes`` seeded hashes — instead of ``num_hashes``
    separate array traversals."""
    init = F.array(*[F.lit(2**63 - 1).cast("long")] * num_hashes)
    return F.aggregate(
        shs,
        init,
        lambda acc, s: F.zip_with(
            acc,
            F.array(*[F.xxhash64(s, F.lit(i)) for i in range(num_hashes)]),
            lambda a, b: F.least(a, b),
        ),
    )


def _bucket_pairs(
    buckets: DataFrame,
    max_bucket_size: int | None,
    shuffle_pairs: int | None = None,
    verify: tuple[str, Column, Column] | None = None,
) -> DataFrame:
    """The one banded-LSH candidate generator: (doc, band, bucket, ...)
    rows -> distinct (doc_a, doc_b) pairs, doc_a < doc_b, sharing a
    bucket.  Oversized buckets are dropped first (:func:`_drop_hot_keys`);
    their hash carries ~no information, so similar pairs survive via
    their other bands.

    ``verify``: optional ``(name, value, keep)`` pair column, ``value``
    computed from the carried ``x.*`` / ``y.*`` columns (``x`` the
    smaller doc) and rows failing ``keep`` dropped BEFORE the pair
    dedup.

    No self-join and nothing persists: each row collects the earlier
    docs of its bucket in a window on the guard's exchange, so the
    producing subtree (a signature fold or the hyperplane-matmul Arrow
    UDF) runs once, also over a cached input, where a self-join's two
    sides would each run it (AQE reuses no exchange above a cached
    scan).  A bucket of k rows collects k(k-1)/2 elements, as many as
    a self-join emits rows."""
    buckets = _drop_hot_keys(buckets, ["band", "bucket"], max_bucket_size)
    row = F.struct(*[c for c in buckets.columns if c not in ("band", "bucket")])
    earlier = (
        Window.partitionBy("band", "bucket")
        .orderBy("doc")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cols = [F.col("x.doc").alias("doc_a"), F.col("y.doc").alias("doc_b")]
    if verify:
        name, value, keep = verify
        cols.append(value.alias(name))
    pairs = (
        buckets.select(row.alias("y"), F.collect_list(row).over(earlier).alias("xs"))
        .select(F.explode("xs").alias("x"), "y")
        # equal ids (a doc listed twice in one bucket) pair with nothing
        .where(F.col("x.doc") < F.col("y.doc"))
        .select(*cols)
    )
    if verify:
        pairs = pairs.where(keep)
    # ``shuffle_pairs``: explicit hash repartition on the pair key,
    # pinned partition count (the same AQE-exemption guard as
    # ngram_jaccard_pairs / candidate_pairs).  The candidate frame is
    # BYTE-small, so AQE coalesces the dedup exchange to ~1 task —
    # fine when the downstream verification is cheap (simhash
    # bit_count), but it serializes verifications that are heavy per
    # ROW and invisible to AQE's byte-based sizing (the ann_lsh JVM
    # dot product — measured 2.15 s -> 1.32 s with the pinned
    # exchange).  Keying by the pair itself means dropDuplicates
    # reuses the exchange, so this replaces a shuffle rather than
    # adding one; callers with cheap verification leave it off.
    if shuffle_pairs:
        pairs = pairs.repartition(shuffle_pairs, "doc_a", "doc_b")
    return pairs.dropDuplicates()


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    max_shingle_freq: int | None = 1000,
    max_bucket_size: int | None = 2000,
    caches: CacheScope | None = None,
) -> DataFrame:
    """MinHash + banded LSH candidate generation, then exact Jaccard
    verification of candidates only (shingle→minhash→band→bucket-join).

    The shingle-set frame always persists; pass a :class:`CacheScope`
    as ``caches`` to release it after materialization, or call
    ``spark.catalog.clearCache()``.
    """
    assert num_hashes % bands == 0
    rows_per_band = num_hashes // bands
    if max_shingle_freq:
        # hot-shingle guard on the exploded index, re-collected per doc
        sets = (
            _drop_hot_keys(
                _shingle_index(df, id_col, text_col, k), ["sh"], max_shingle_freq
            )
            .groupBy("doc")
            .agg(F.collect_list("sh").alias("shs"))
        )
    else:
        sets = shingle_sets(df, id_col, text_col, k)
    # the (filtered) shingle-set subtree feeds the signatures and both
    # sides of the verification join, three differently shaped
    # consumers that share no exchange — without a materialization
    # point Spark recomputes it per reference (measured 5x on large
    # corpora)
    sets = sets.persist(StorageLevel.MEMORY_AND_DISK)
    if caches is not None:
        caches.add(sets)
    sigs = sets.select(
        "doc", "shs", _minhash_sig_array(F.col("shs"), num_hashes).alias("_sig")
    )
    # band hash = xxhash64 of the band's signature-array SLICE (xxhash64
    # hashes arrays structurally) — no per-element column extraction;
    # ONE posexplode pass instead of a bands-way union, so the signature
    # subtree is evaluated once, not once per band
    band_hashes = F.array(
        *[
            F.xxhash64(F.slice("_sig", b * rows_per_band + 1, rows_per_band))
            for b in range(bands)
        ]
    )
    buckets = sigs.select(
        "doc", F.posexplode(band_hashes).alias("band", "bucket")
    )
    cand = _bucket_pairs(buckets, max_bucket_size)
    # verify candidates with exact shingle Jaccard — join the per-doc
    # shingle *sets* onto the (small) candidate list and intersect
    # per-pair, instead of re-joining the full inverted index (which
    # would pay the O(freq²) pair blow-up for non-candidates too)
    return (
        cand.join(
            sets.select(F.col("doc").alias("doc_a"), F.col("shs").alias("shs_a")),
            "doc_a",
        )
        .join(
            sets.select(F.col("doc").alias("doc_b"), F.col("shs").alias("shs_b")),
            "doc_b",
        )
        .withColumn("common", F.size(F.array_intersect("shs_a", "shs_b")))
        .withColumn(
            "jaccard",
            F.col("common")
            / (F.size("shs_a") + F.size("shs_b") - F.col("common")),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 64) -> DataFrame:
    """SimHash per doc, fully JVM-side as a NARROW map: hash the token
    array once, fold the per-bit signed counts with nested higher-order
    functions, recombine into a bigint.  No shuffle, no Python worker,
    no wide aggregation buffers (the earlier explode+groupBy variant
    allocated 64 agg columns over the token explosion and thrashed GC
    on large corpora).

    Bit tests run against a precomputed power-of-two LITERAL array
    (``h & p`` per element) instead of ``bits`` unrolled shiftright
    expressions inside the fold: the unrolled form built an ~O(bits²)
    expression tree whose whole-stage-codegen compile dominated
    small-batch latency (measured ~2s fixed cost at 64 bits); this
    form keeps the tree O(bits) leaf literals with identical
    signatures (bit 63's power is Long.MIN_VALUE, the two's-complement
    top bit)."""
    pows = F.array(
        *[
            F.lit(1 << b if b < 63 else -(2**63)).cast("long")
            for b in range(bits)
        ]
    )
    hashes = F.transform(words(F.col(text_col)), lambda t: F.xxhash64(t))
    counts = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), bits),
        lambda acc, h: F.zip_with(
            acc,
            pows,
            lambda a, p: a
            + F.when(h.bitwiseAND(p) != 0, 1).otherwise(-1),
        ),
    )
    # recombine: positive count -> that bit's power ORed in
    sig = F.aggregate(
        F.zip_with(
            counts,
            pows,
            lambda c, p: F.when(c > 0, p).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda a, x: a.bitwiseOR(x),
    )
    return ensure_parallelism(df).select(
        F.col(id_col).alias("doc"), sig.alias("simhash")
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    bands: int = 4,
    max_bucket_size: int | None = 2000,
    caches: CacheScope | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash: band the 64-bit signature into
    ``bands`` segments (pigeonhole: hamming<=max_hamming implies at
    least one identical segment when bands > max_hamming) and pair
    through :func:`_bucket_pairs`, verifying hamming with bit_count.

    The 8-byte signature RIDES THROUGH the bucket pairing (carry small
    metadata instead of re-joining it), so hamming is verified before
    the pair dedup with no join back to the signatures.  It persists
    nothing: ``caches`` is kept for callers that pass a scope, and
    nothing is added to it."""
    assert bands > max_hamming, "pigeonhole needs bands > max_hamming"
    sigs = simhash(df, id_col, text_col)
    seg_bits = 64 // bands
    seg_array = F.array(
        *[
            F.shiftrightunsigned("simhash", b * seg_bits).bitwiseAND(
                F.lit((1 << seg_bits) - 1)
            )
            for b in range(bands)
        ]
    )
    segs = sigs.select(
        "doc", "simhash", F.posexplode(seg_array).alias("band", "bucket")
    )
    hamming = F.bit_count(F.col("x.simhash").bitwiseXOR(F.col("y.simhash")))
    return _bucket_pairs(
        segs,
        max_bucket_size,
        verify=("hamming", hamming, F.col("hamming") <= max_hamming),
    )


def embedding_dedup(
    docs: DataFrame,
    embeddings: DataFrame,
    dim: int,
    threshold: float = 0.95,
    id_col: str = "doc_id",
    emb_id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = 8,
    n_planes: int = 12,
    seed: int = 7,
    max_bucket_size: int | None = 2000,
) -> DataFrame:
    """Embedding-cosine near-duplicate dedup over a documents table.

    The semantic sibling of :func:`exact_dedup`: two documents are
    duplicates when the cosine similarity of their embeddings is
    ``>= threshold``, and duplicate groups are the TRANSITIVE closure
    of that relation (A~B and B~C collapse to one group even if A and
    C fall below the threshold — the standard near-dup contract, so a
    drifting chain of paraphrases dedups to one kept document).

    Pure composition of the scale-shaped primitives: banded
    multi-table hyperplane LSH candidate generation + exact cosine
    verification (:func:`..similarity.lsh_near_duplicates` — the
    corpus is never all-paired) and large-star/small-star
    :func:`..closure.connected_components` for the grouping.

    Returns one row per document: ``(doc_id, keep_id, is_dup)`` where
    ``keep_id`` is the minimum document id of the near-dup component;
    documents without an embedding row, or without any near-dup, keep
    themselves.

    Recall caveat (the closure is exact over the edges it is GIVEN,
    but candidate generation is best-effort, as in
    :func:`..similarity.lsh_near_duplicates`): hyperplane LSH is
    probabilistic-recall — a true near-dup pair landing in no common
    bucket across the ``n_tables`` tables is never verified — and the
    ``max_bucket_size`` skew guard silently drops candidate pairs from
    oversized buckets.  A missed edge splits a duplicate group, and
    because grouping is transitive, one missed BRIDGE edge splits a
    chain into two components.  Raise ``n_tables`` / lower
    ``n_planes`` / lift ``max_bucket_size`` for recall, at candidate-
    volume cost; treat ``keep_id`` as best-effort, not exact.
    """
    from .closure import connected_components
    from .similarity import lsh_near_duplicates

    ids = docs.select(F.col(id_col))
    embs = ids.join(
        embeddings.select(F.col(emb_id_col).alias(id_col), F.col(vec_col)),
        id_col,
    )
    pairs = lsh_near_duplicates(
        embs,
        dim=dim,
        threshold=threshold,
        n_tables=n_tables,
        n_planes=n_planes,
        seed=seed,
        id_col=id_col,
        vec_col=vec_col,
        max_bucket_size=max_bucket_size,
    )
    comps = connected_components(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    return (
        ids.join(comps.withColumnRenamed("node", id_col), id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("component", F.col(id_col)).alias("keep_id"),
        )
        .withColumn("is_dup", F.col("keep_id") != F.col(id_col))
    )
