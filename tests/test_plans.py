"""Physical-plan regression tests: the properties that make this
engine scale are asserted, not assumed — native ops stay inside
whole-stage codegen (no Python workers), filters and projections reach
the parquet scan, small sides broadcast."""

import pyspark.sql.functions as F

import polars_iptools_spark as ip
from polars_iptools_spark.operators import dedup, similarity, textstats


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_native_ops_have_no_python_workers(spark):
    df = spark.createDataFrame([("8.8.8.8",)], "ip string")
    native = df.select(
        ip.is_valid("ip"),
        ip.is_private("ip"),
        ip.ipv4_to_numeric("ip"),
        ip.numeric_to_ipv4(F.lit(1)),
        ip.extract_ips("ip"),
        ip.extract_private_ips("ip"),
        textstats.token_count(F.col("ip")),
        textstats.quality_score(F.col("ip")),
        textstats.lang_id(F.col("ip")),
        textstats.fingerprint(F.col("ip")),
        textstats.winnowing_fingerprints(F.col("ip")),
    )
    p = plan_of(native)
    assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_simhash_and_minhash_have_no_python_workers(spark):
    docs = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    with dedup.CacheScope() as caches:
        for q in (
            dedup.simhash(docs, "doc_id", "text"),
            dedup.minhash_lsh_pairs(docs, "doc_id", "text", caches=caches),
            dedup.exact_dedup(docs, "doc_id", "text"),
        ):
            p = plan_of(q)
            assert "ArrowEvalPython" not in p and "BatchEvalPython" not in p


def test_ann_topk_broadcasts_queries(spark):
    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(10)],
        "vec_id long, embedding array<float>",
    )
    q = emb.where("vec_id < 2").select(F.col("vec_id").alias("query_id"), "embedding")
    plan = plan_of(similarity.brute_force_topk(emb, q, k=2))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "ArrowEvalPython" not in plan  # cosine is zip_with/aggregate


def test_filter_pushdown_reaches_parquet_scan(spark, tmp_path):
    path = str(tmp_path / "p.parquet")
    spark.range(1000).select(
        F.col("id"), F.concat(F.lit("10.0.0."), (F.col("id") % 250).cast("string")).alias("ip")
    ).write.parquet(path)
    df = spark.read.parquet(path).where(F.col("id") > 500).select("ip")
    p = plan_of(df)
    assert "PushedFilters: [IsNotNull(id), GreaterThan(id,500)]" in p
    # column pruning: scan reads only the needed columns
    assert "ReadSchema: struct<id:bigint,ip:string>" in p


def test_predicate_pushes_past_native_ip_expression(spark, tmp_path):
    """A filter on a plain column composes with our native IP exprs and
    still reaches the scan (elementwise-expression transparency, the
    property the reference gets via is_elementwise=True)."""
    path = str(tmp_path / "p2.parquet")
    spark.range(1000).select(
        F.col("id"),
        F.concat(F.lit("10.0.0."), (F.col("id") % 250).cast("string")).alias("ip"),
    ).write.parquet(path)
    df = (
        spark.read.parquet(path)
        .withColumn("n", ip.ipv4_to_numeric("ip"))
        .withColumn("valid", ip.is_valid("ip"))
        .where(F.col("id") > 900)
    )
    assert "GreaterThan(id,900)" in plan_of(df)


def test_geoip_udf_input_is_narrow(spark, tmp_path):
    """Only the ip column crosses into the Python worker: the scan
    schema under an enrichment projection stays pruned."""
    path = str(tmp_path / "p3.parquet")
    spark.range(100).select(
        F.col("id"),
        F.lit("x").alias("junk1"),
        F.lit("y").alias("junk2"),
        F.concat(F.lit("10.0.0."), (F.col("id") % 250).cast("string")).alias("ipc"),
    ).write.parquet(path)
    df = spark.read.parquet(path).select(
        ip.geoip.asn("ipc", db_dir="/root/reference/tests/maxmind").alias("a")
    )
    p = plan_of(df)
    assert "ReadSchema: struct<ipc:string>" in p
    assert "junk1" not in p.split("ReadSchema")[1][:200]


def test_ip_prefix_v6_expands_compression(spark):
    """Equal /48s must share one block key regardless of where ``::``
    compression or leading zeros fall (ADVICE: naive token-slicing put
    2606:4700::1111 and 2606:4700:0:1::1 in different blocks)."""
    import ipaddress

    from polars_iptools_spark.plans.blocking import ip_prefix

    cases = [
        "2606:4700::1111",
        "2606:4700:0:1::1",
        "2606:4700:0000:0002::5",   # non-canonical leading zeros
        "2606:4700:1:2:3:4:5:6",    # no compression
        "::1",
        "::ffff:8.8.8.8",           # v4-mapped tail
        "fe80::1",
        "1.2.3.4",
    ]
    df = spark.createDataFrame([(c,) for c in cases], "ip string")
    got = {r.ip: r.p for r in df.select("ip", ip_prefix(F.col("ip")).alias("p")).collect()}
    for c in cases:
        if ":" in c:
            exp = ":".join(format(int(g, 16), "x") for g in ipaddress.ip_address(c).exploded.split(":")[:3]) + "::/48"
        else:
            exp = ".".join(c.split(".")[:3])
        assert got[c] == exp, (c, got[c], exp)
    # the two same-/48 addresses group together
    assert got["2606:4700::1111"] == got["2606:4700:0:1::1"] == got["2606:4700:0000:0002::5"]


def test_ngram_index_join_has_aqe_exempt_repartition(spark):
    """The shingle inverted-index self-join must carry the explicit
    user repartition on the join key: its output explodes quadratically
    per shingle, and without the AQE-coalescing-exempt exchange the
    blow-up serializes onto a handful of tasks (same guard as
    blocking.candidate_pairs)."""
    df = spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i}") for i in range(20)],
        "doc_id long, text string",
    )
    pairs = dedup.ngram_jaccard_pairs(df, "doc_id", "text", k=2, threshold=0.3)
    plan = plan_of(pairs)
    assert "REPARTITION_BY_NUM" in plan
    assert pairs.count() >= 0  # and it still executes


def test_simhash_pairs_persists_signature_subtree(spark):
    """The signature fold feeds banding + both verify-join sides; the
    persist must actually take effect so the scan+fold is computed once
    (InMemoryTableScan present, and more than one consumer of it)."""
    df = spark.createDataFrame(
        [(i, f"words alpha beta {i}") for i in range(10)],
        "doc_id long, text string",
    )
    pairs = dedup.simhash_pairs(df, "doc_id", "text", max_hamming=3, bands=4)
    plan = plan_of(pairs)
    assert plan.count("InMemoryTableScan") >= 2, plan[:400]
    pairs.count()


def test_minhash_hot_guard_has_no_collect_set(spark):
    """The hot-shingle skew guard must keep hot shingles distributed:
    no collect_set (single-row fold) anywhere in the physical plan."""
    df = spark.createDataFrame(
        [(i, f"common words everywhere plus unique{i} tail{i}") for i in range(30)],
        "doc_id long, text string",
    )
    pairs = dedup.minhash_lsh_pairs(
        df, "doc_id", "text", k=2, num_hashes=8, bands=4,
        threshold=0.5, max_shingle_freq=5,
    )
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "collect_set" not in plan.lower()
    # the guard must also never degrade to a cartesian product — the
    # round-1 scale-killer folded hot shingles into one driver row and
    # crossJoined it against the corpus
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    pairs.count()  # and the guarded plan still executes


def test_bucket_pairs_input_is_materialized_once(spark):
    """r07 optimization: the (doc, band, bucket) frame feeds the
    hot-bucket histogram and BOTH self-join sides; _bucket_pairs must
    persist it so the expensive producing subtree (signature fold /
    hyperplane-matmul UDF) is evaluated once, not once per consumer —
    all three consumers must read an InMemoryTableScan."""
    import numpy as np

    rng = np.random.default_rng(3)
    df = spark.createDataFrame(
        [(i, rng.standard_normal(8).tolist()) for i in range(30)],
        "vec_id long, embedding array<double>",
    )
    pairs = similarity.lsh_near_duplicates(
        df, dim=8, threshold=0.5, n_tables=4, n_planes=4
    )
    plan = plan_of(pairs)
    assert plan.count("InMemoryTableScan") >= 3, plan[:600]
    pairs.count()  # and it still executes
