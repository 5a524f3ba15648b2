"""End-to-end record-linkage pipeline tests (BASELINE.json north_rule):
pairwise F1 >= 0.99 on labeled same-blocking-key pairs, content-sha256
invariant, checkpoint resume equivalence, deterministic generation,
skew refinement."""

import hashlib

import pytest
from pyspark.sql import functions as F

from polars_iptools_spark.plans import blocking
from polars_iptools_spark.plans.pipeline import pairwise_f1, run_pipeline
from polars_iptools_spark.sources.corpus import synth_corpus


@pytest.fixture(scope="module")
def corpus_truth(spark):
    corpus, truth = synth_corpus(
        spark, n_entities=150, records_per_entity=4, n_blocks=15
    )
    corpus.cache().count()
    truth.cache().count()
    return corpus, truth


@pytest.fixture(scope="module")
def result(spark, corpus_truth, tmp_path_factory):
    corpus, _ = corpus_truth
    ckpt = str(tmp_path_factory.mktemp("ckpt"))
    return run_pipeline(spark, corpus, ckpt), ckpt


def test_corpus_deterministic(spark, corpus_truth):
    corpus, _ = corpus_truth
    again, _ = synth_corpus(spark, n_entities=150, records_per_entity=4, n_blocks=15)
    assert corpus.exceptAll(again).count() == 0
    assert again.exceptAll(corpus).count() == 0


def test_content_sha256_invariant(spark, corpus_truth):
    """Engine-computed sha2(content,256) equals hashlib per row —
    the per-row invariant vs the reference (BASELINE.json:15)."""
    corpus, _ = corpus_truth
    sample = corpus.limit(50).select(
        "content", F.sha2("content", 256).alias("sha")
    ).collect()
    assert len(sample) == 50
    for r in sample:
        assert r.sha == hashlib.sha256(r.content.encode()).hexdigest()


def test_pairwise_f1_target(spark, corpus_truth, result):
    _, truth = corpus_truth
    res, _ = result
    m = pairwise_f1(res["clusters"], truth, res["blocked"])
    assert m["f1"] >= 0.99, m


@pytest.fixture(scope="module")
def skewed(spark, tmp_path_factory):
    """Zipf cluster sizes + one hot /24 (40 entities x 25 records =
    1000 rows in one block) — the SURVEY §4.2 skew shape at CI size."""
    corpus, truth = synth_corpus(
        spark,
        n_entities=600,
        records_per_entity=3,
        n_blocks=60,
        zipf_sizes=True,
        hot_entities=40,
        hot_cluster_size=25,
        size_cap=20,
    )
    corpus.cache().count()
    truth.cache().count()
    ckpt = str(tmp_path_factory.mktemp("ckpt_skew"))
    return corpus, truth, run_pipeline(spark, corpus, ckpt)


def test_skewed_hot_block_triggers_refinement(spark, skewed):
    corpus, _, res = skewed
    # the hot /24 base key actually exceeded the refinement threshold:
    # refined keys carry the appended ip (4 '|' segments)
    from polars_iptools_spark.sources.corpus import HOT_PREFIX

    refined_hot = (
        res["blocked"]
        .where(F.col("ip").startswith(HOT_PREFIX + "."))
        .where(F.size(F.split("block_key", r"\|")) == 4)
        .count()
    )
    assert refined_hot > 0


def test_skewed_f1_counting_equals_pairs_and_meets_target(spark, skewed):
    _, truth, res = skewed
    m_count = pairwise_f1(res["clusters"], truth, res["blocked"], method="count")
    m_pairs = pairwise_f1(res["clusters"], truth, res["blocked"], method="pairs")
    assert (m_count["tp"], m_count["fp"], m_count["fn"]) == (
        m_pairs["tp"],
        m_pairs["fp"],
        m_pairs["fn"],
    ), (m_count, m_pairs)
    assert m_count["f1"] >= 0.99, m_count
    assert m_count["fp"] == 0, m_count
    # the hot block contributes real pair mass (sanity that the skew
    # shape isn't degenerate)
    assert m_count["tp"] >= 40 * (25 * 24 // 2)


def test_every_record_clustered(spark, corpus_truth, result):
    corpus, _ = corpus_truth
    res, _ = result
    assert res["clusters"].count() == res["blocked"].dropDuplicates(["rid"]).count()
    assert res["clusters"].where(F.col("cluster_id").isNull()).count() == 0


def test_resume_from_checkpoint(spark, corpus_truth, result):
    """Re-running with the same ckpt dir must load every committed
    stage (resumed=True) and produce identical clusters."""
    corpus, _ = corpus_truth
    res, ckpt = result
    first = res["clusters"].collect()
    res2 = run_pipeline(spark, corpus, ckpt)
    assert all(m["resumed"] for m in res2["metrics"].values()), res2["metrics"]
    second = res2["clusters"].collect()
    assert sorted(first) == sorted(second)


def test_fresh_commit_schema_equals_resumed(spark, corpus_truth, result):
    """A fresh run reads each commit back with the frame's own schema
    (no inference job); the frame must be typed exactly like the one a
    resume infers from the parquet files, for all four stages."""
    corpus, _ = corpus_truth
    res, ckpt = result
    resumed = run_pipeline(spark, corpus, ckpt)
    for key in ("indicators", "blocked", "scored", "clusters"):
        assert res[key].schema == resumed[key].schema, key


def test_partial_resume_recomputes_missing(spark, corpus_truth, tmp_path):
    """Kill-mid-run simulation: commit only the first stages, then a
    fresh run must reuse them and compute the rest."""
    corpus, truth = corpus_truth
    ckpt = str(tmp_path / "partial")
    from polars_iptools_spark.plans.checkpoint import StageRunner

    runner = StageRunner(spark, ckpt)
    runner.stage("01_indicators", lambda: blocking.extract_indicators(corpus))
    assert runner.is_committed("01_indicators")

    res = run_pipeline(spark, corpus, ckpt)
    assert res["metrics"]["01_indicators"]["resumed"] is True
    assert res["metrics"]["04_clusters"]["resumed"] is False
    m = pairwise_f1(res["clusters"], truth, res["blocked"])
    assert m["f1"] >= 0.99


def test_metrics_have_partition_lineage(result):
    res, _ = result
    for name, m in res["metrics"].items():
        assert m["rows"] >= 0 and "partition_rows" in m, (name, m)


def test_skew_refinement_triggers(spark, corpus_truth):
    """The Zipf block-0 is oversized at a low cap; refinement must
    split it by full IP without losing any same-entity pair."""
    corpus, truth = corpus_truth
    ind = blocking.extract_indicators(corpus)
    blocked = blocking.with_block_key(ind)
    hist = blocked.groupBy("block_key").agg(F.count(F.lit(1)).alias("block_rows"))
    cap = 40
    assert hist.where(F.col("block_rows") > cap).count() > 0
    refined = blocking.refine_oversized_blocks(blocked, cap)
    # refined keys are strictly finer: same-entity records (same ip)
    # still share a key
    joined = refined.join(truth, "commit").select("entity", "ip", "block_key")
    per_entity = joined.groupBy("entity", "ip").agg(
        F.countDistinct("block_key").alias("nk")
    )
    assert per_entity.where(F.col("nk") > 1).count() == 0


@pytest.mark.parametrize("cap", [1, 2, 5, 40])
def test_skew_guards_cap_boundary(spark, cap):
    """Both window-count guards at the cap boundary: a key with exactly
    ``cap`` rows is kept by ``_drop_hot_keys`` and not refined by
    ``refine_oversized_blocks``; a key with ``cap + 1`` rows is dropped
    or gets ``|ip`` appended.  Expected sets come from a Python count."""
    from collections import Counter

    from polars_iptools_spark.operators import dedup

    sizes = sorted({1, cap, cap + 1, 3 * cap})
    rows = [
        (len(sizes) * i + b, b, size, f"10.0.{b}.{i}", f"k{b}|{size}")
        for b, size in enumerate(sizes)
        for i in range(size)
    ]
    df = spark.createDataFrame(
        rows, "doc long, band int, bucket int, ip string, block_key string"
    )
    held = Counter((band, bucket) for _, band, bucket, _, _ in rows)
    assert {cap, cap + 1} <= set(held.values())

    kept = {
        r.doc for r in dedup._drop_hot_keys(df, ["band", "bucket"], cap).collect()
    }
    assert kept == {d for d, band, bucket, _, _ in rows if held[(band, bucket)] <= cap}

    refined = {
        r.doc: r.block_key
        for r in blocking.refine_oversized_blocks(df, cap).collect()
    }
    assert refined == {
        d: f"{key}|{ip}" if held[(band, bucket)] > cap else key
        for d, band, bucket, ip, key in rows
    }


def test_ipv6_block_prefix(spark):
    """/48 prefix for IPv6 indicators (north_star blocking key)."""
    rows = [
        (1, "2001:db8:85a3::8a2e:370:7334", "py"),
        (2, "8.8.8.8", "py"),
    ]
    df = spark.createDataFrame(rows, "rid long, ip string, lang string")
    keyed = blocking.with_block_key(df)
    keys = {r.rid: r.block_key for r in keyed.collect()}
    assert keys[1].split("|")[1] == "2001:db8:85a3::/48"
    assert keys[2].split("|")[1] == "8.8.8"


def test_read_corpus_seam(spark, corpus_truth, tmp_path):
    """read_corpus loads parquet with the input_hint schema and rejects
    tables missing required columns."""
    from polars_iptools_spark.sources.corpus import read_corpus

    corpus, _ = corpus_truth
    p = str(tmp_path / "corpus.parquet")
    corpus.write.parquet(p)
    back = read_corpus(spark, p)
    assert back.columns == ["repo", "path", "commit", "lang", "content"]
    assert back.count() == corpus.count()

    bad = str(tmp_path / "bad.parquet")
    corpus.drop("content").write.parquet(bad)
    import pytest as _pt

    with _pt.raises(ValueError, match="missing columns"):
        read_corpus(spark, bad)


def test_pipeline_ipv6_end_to_end(spark, tmp_path):
    """run_pipeline(ipv6=True): v6 indicators flow through extraction,
    /48-prefix blocking, scoring and closure — 8 entities each keyed by
    a distinct global-unicast /48 must resolve to exactly 8 clusters of
    3 with no cross-entity merges."""
    from polars_iptools_spark.plans.pipeline import run_pipeline

    rows = []
    for e in range(8):
        v6 = f"2606:4700:{e:x}::1"
        for r in range(3):
            rows.append(
                (
                    f"org/repo{e}",
                    f"src/mod{e}/file{r}.py",
                    f"c{e}_{r}",
                    "py",
                    f"conn {v6} seen in log",
                )
            )
    corpus = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, content string"
    )
    res = run_pipeline(spark, corpus, str(tmp_path / "ck6"), ipv6=True)
    clusters = res["clusters"].collect()
    assert len(clusters) == 24
    by_cluster = {}
    for row in clusters:
        by_cluster.setdefault(row.cluster_id, []).append(row.commit)
    assert sorted(len(v) for v in by_cluster.values()) == [3] * 8
    for members in by_cluster.values():
        # all commits in a cluster belong to one entity (c{e}_{r})
        assert len({c.split("_")[0] for c in members}) == 1
    # the blocking key really used the /48 prefix, not token slicing
    keys = {r.block_key for r in res["blocked"].select("block_key").collect()}
    assert all("::/48|" in k for k in keys), keys


def test_rid_is_fixed_width_long_and_collision_free(spark, corpus_truth):
    """The hot-path rid is a native LONG (fixed-width Tungsten sort
    key — the measured 2.2x closure-shuffle win vs variable-length
    encodings, BENCH/BASELINE.md §8), with zero 64-bit collisions on
    the corpus; record_id128 stays available as the 16-byte audit key."""
    corpus, _ = corpus_truth
    ind = blocking.extract_indicators(corpus)
    assert dict(ind.dtypes)["rid"] == "bigint"
    assert blocking.audit_rid_collisions(corpus) == 0
    r128 = corpus.select(
        blocking.record_id128("repo", "path", "commit").alias("rid128")
    )
    assert dict(r128.dtypes)["rid128"] == "binary"
    lens = [x.l for x in r128.select(F.length("rid128").alias("l")).distinct().collect()]
    assert lens == [16]
    # the two halves are independently seeded: the long rid is NOT a
    # prefix/suffix of rid128-as-one-hash (would halve the audit value)
    n128 = r128.distinct().count()
    n64 = corpus.select(
        blocking.record_id("repo", "path", "commit").alias("rid")
    ).distinct().count()
    assert n128 == n64 == corpus.dropDuplicates(["repo", "path", "commit"]).count()


def test_pipeline_audit_rids_gate(spark, corpus_truth, tmp_path, monkeypatch):
    """run_pipeline(audit_rids=True) runs clean on a healthy corpus and
    raises when the audit reports collisions."""
    from polars_iptools_spark.plans import pipeline as pl

    corpus, _ = corpus_truth
    small = corpus.limit(20)
    res = run_pipeline(spark, small, str(tmp_path / "ck_audit"), audit_rids=True)
    assert res["clusters"].count() == 20
    monkeypatch.setattr(pl.blocking, "audit_rid_collisions", lambda c: 3)
    with pytest.raises(ValueError, match="rid collision"):
        run_pipeline(spark, small, str(tmp_path / "ck_audit2"), audit_rids=True)
