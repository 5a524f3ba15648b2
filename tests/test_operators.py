"""Dedup / similarity / textstats / multimodal operator tests with
in-Python brute-force oracles."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from polars_iptools_spark.operators import dedup, multimodal, similarity, textstats

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy cat"),   # near-dup of 0
    (2, "the quick brown fox jumps over the lazy dog"),   # exact dup of 0
    (3, "completely different content about spark engines"),
    (4, "spark engines process completely different content about scale"),
    (5, "unrelated text with nothing shared at all here now"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string").cache()


def _shingles(text, k=3):
    w = text.lower().split()
    return {" ".join(w[i : i + k]) for i in range(len(w) - k + 1)}


def _jaccard(a, b, k=3):
    sa, sb = _shingles(a, k), _shingles(b, k)
    return len(sa & sb) / len(sa | sb)


def test_exact_dedup(spark, docs):
    rows = dedup.exact_dedup(docs, "doc_id", "text").collect()
    assert len(rows) == 5  # 6 docs, one exact dup
    by_keep = {r.keep_id: r.dup_count for r in rows}
    assert by_keep[0] == 2  # docs 0 and 2 identical, min id kept


def test_ngram_jaccard_matches_bruteforce(spark, docs):
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(
            docs, "doc_id", "text", k=3, threshold=0.3
        ).collect()
    }
    expected = {}
    for i, (ida, ta) in enumerate(DOCS):
        for idb, tb in DOCS[i + 1 :]:
            j = _jaccard(ta, tb)
            if j >= 0.3:
                expected[(ida, idb)] = j
    assert set(got) == set(expected)
    for pair, j in expected.items():
        assert got[pair] == pytest.approx(j)


def test_minhash_lsh_finds_near_dups(spark, docs):
    pairs = {
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_lsh_pairs(
            docs, "doc_id", "text", k=3, num_hashes=32, bands=16, threshold=0.5
        ).collect()
    }
    # exact dup pair must always survive; jaccard values are exact
    assert (0, 2) in pairs
    assert (0, 1) in pairs  # high-overlap near-dup
    assert (0, 5) not in pairs


def test_simhash_properties(spark, docs):
    sigs = {r.doc: r.simhash for r in dedup.simhash(docs, "doc_id", "text").collect()}
    assert sigs[0] == sigs[2]  # identical text -> identical signature
    ham01 = bin((sigs[0] ^ sigs[1]) & (2**64 - 1)).count("1")
    ham05 = bin((sigs[0] ^ sigs[5]) & (2**64 - 1)).count("1")
    assert ham01 < ham05  # near-dup closer than unrelated


def test_simhash_pairs(spark, docs):
    pairs = {
        (r.doc_a, r.doc_b): r.hamming
        for r in dedup.simhash_pairs(
            docs, "doc_id", "text", max_hamming=10, bands=16
        ).collect()
    }
    assert pairs[(0, 2)] == 0


def test_simhash_pairs_match_bruteforce_sweep(spark):
    """simhash_pairs (banding + the shared _bucket_pairs primitive with
    its verified hamming column) against a Python oracle over the
    collected signatures: a pair is expected iff its hamming distance
    is <= max_hamming AND it shares at least one band segment whose
    bucket is not hot (held by more than max_bucket_size docs)."""
    import random

    rnd = random.Random(5)
    vocab = [f"w{i}" for i in range(60)]
    rows = []
    for fam in range(8):
        base = [rnd.choice(vocab) for _ in range(20)]
        for v in range(5):
            words = list(base)
            for _ in range(v % 4):  # 0-3 substituted words per variant
                words[rnd.randrange(len(words))] = rnd.choice(vocab)
            rows.append((fam * 10 + v, " ".join(words)))
    df = spark.createDataFrame(rows, "doc_id long, text string").cache()
    sigs = {
        r.doc: r.simhash & (2**64 - 1)
        for r in dedup.simhash(df, "doc_id", "text").collect()
    }
    ids = sorted(sigs)
    guard_dropped = 0
    for bands, max_hamming in [(4, 0), (4, 3), (8, 3), (8, 7), (16, 12)]:
        seg_bits = 64 // bands
        segs = {
            d: [(s >> (b * seg_bits)) & ((1 << seg_bits) - 1) for b in range(bands)]
            for d, s in sigs.items()
        }
        sizes = {}
        for d in ids:
            for b, seg in enumerate(segs[d]):
                sizes[(b, seg)] = sizes.get((b, seg), 0) + 1
        for max_bucket_size in (None, 3):
            expected = {}
            for i, a in enumerate(ids):
                for b_ in ids[i + 1 :]:
                    ham = bin(sigs[a] ^ sigs[b_]).count("1")
                    shared = any(
                        segs[a][b] == segs[b_][b]
                        and not (max_bucket_size and sizes[(b, segs[a][b])] > max_bucket_size)
                        for b in range(bands)
                    )
                    if ham <= max_hamming and shared:
                        expected[(a, b_)] = ham
            with dedup.CacheScope() as caches:
                got = {
                    (r.doc_a, r.doc_b): r.hamming
                    for r in dedup.simhash_pairs(
                        df, "doc_id", "text", max_hamming=max_hamming, bands=bands,
                        max_bucket_size=max_bucket_size, caches=caches,
                    ).collect()
                }
            assert got == expected, (bands, max_hamming, max_bucket_size)
            if max_bucket_size is None:
                unguarded = len(expected)
            else:
                guard_dropped += unguarded - len(expected)
    df.unpersist()
    # the sweep really tripped the hot-bucket guard
    assert guard_dropped > 0


def test_cache_scope_releases_dedup_storage(spark, docs):
    """CacheScope frees the persisted minhash shingle sets after
    materialization (owner-scoped release instead of leak-until-LRU);
    simhash_pairs takes a scope but persists nothing."""
    with dedup.CacheScope() as caches:
        pairs = dedup.simhash_pairs(
            docs, "doc_id", "text", max_hamming=10, bands=16, caches=caches
        )
        lsh = dedup.minhash_lsh_pairs(
            docs, "doc_id", "text", num_hashes=32, bands=16, caches=caches
        )
        assert {(r.doc_a, r.doc_b) for r in pairs.collect()} >= {(0, 2)}
        assert {(r.doc_a, r.doc_b) for r in lsh.collect()} >= {(0, 2)}
        handles = list(caches._frames)
        # the minhash shingle sets only: the bucket self-join reuses
        # one exchange instead of reading a persisted frame
        assert len(handles) == 1
        assert all(h.storageLevel.useMemory for h in handles)
    # scope exit unpersisted every registered frame
    assert not caches._frames
    assert all(not h.storageLevel.useMemory for h in handles)
    # results computed through a released scope stay correct
    assert (0, 2) in {(r.doc_a, r.doc_b) for r in pairs.collect()}


def test_brute_force_topk_matches_numpy(spark):
    rng = np.random.default_rng(11)
    vecs = rng.standard_normal((40, 8)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    q = df.where("vec_id < 3").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = similarity.brute_force_topk(df, q, k=4).collect()
    norms = np.linalg.norm(vecs, axis=1)
    cos = (vecs @ vecs.T) / np.outer(norms, norms)
    for qid in range(3):
        order = np.argsort(-cos[qid], kind="stable")[:4]
        mine = [r.vec_id for r in sorted(got, key=lambda r: r.rank) if r.query_id == qid]
        assert mine == list(order), (qid, mine, list(order))


def test_lsh_near_duplicates_finds_planted(spark):
    rng = np.random.default_rng(5)
    base = rng.standard_normal((20, 16)).astype(np.float32)
    rows = [(i, [float(x) for x in base[i]]) for i in range(20)]
    # plant a near-duplicate of vector 0
    dup = base[0] + rng.standard_normal(16).astype(np.float32) * 0.01
    rows.append((99, [float(x) for x in dup]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = {
        (r.id_a, r.id_b)
        for r in similarity.lsh_near_duplicates(df, dim=16, threshold=0.98).collect()
    }
    assert (0, 99) in pairs


def test_lsh_banded_recall_at_095(spark):
    """Banded multi-table LSH must recover >=90% of true >=0.95-cosine
    pairs at the 8x12 defaults (single-table LSH decays to ~28% here)."""
    rng = np.random.default_rng(11)
    dim = 32
    base = rng.standard_normal((60, dim))
    rows = [(i, [float(x) for x in base[i]]) for i in range(60)]
    planted = []
    for i in range(30):
        noisy = base[i] + rng.standard_normal(dim) * 0.20
        rows.append((100 + i, [float(x) for x in noisy]))
        cos = float(
            base[i] @ noisy / (np.linalg.norm(base[i]) * np.linalg.norm(noisy))
        )
        planted.append(((i, 100 + i), cos))
    truth = {p for p, cos in planted if cos >= 0.95}
    assert len(truth) >= 20  # the construction must actually plant pairs
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        (r.id_a, r.id_b)
        for r in similarity.lsh_near_duplicates(df, dim=dim, threshold=0.95).collect()
    }
    recall = sum(1 for p in truth if p in got) / len(truth)
    assert recall >= 0.9, (recall, len(truth))
    # precision is exact by construction: every emitted pair is verified
    for r in similarity.lsh_near_duplicates(df, dim=dim, threshold=0.95).collect():
        assert r.cosine >= 0.95


def test_token_counts(spark, docs):
    rows = docs.select(
        "doc_id",
        textstats.token_count(F.col("text")).alias("tc"),
        textstats.bpe_ish_token_count(F.col("text")).alias("bc"),
    ).collect()
    for r in rows:
        expected = len(dict(DOCS)[r.doc_id].split())
        assert r.tc == expected
        assert r.bc >= r.tc  # sub-word segmentation never merges words
    empty = spark.createDataFrame([("",), ("   ",)], "text string")
    got = [r.tc for r in empty.select(textstats.token_count(F.col("text")).alias("tc")).collect()]
    assert got == [0, 0]


def test_lang_id(spark):
    cases = [
        ("the cat and the dog is in town", "en"),
        ("der hund und die katze ist nicht da", "de"),
        ("el perro y la casa es que los gatos", "es"),
        ("le chien et la maison est que les", "fr"),
        ("xyzzy qwerty plugh", "und"),
    ]
    df = spark.createDataFrame(cases, "text string, expected string")
    rows = df.select("expected", textstats.lang_id(F.col("text")).alias("got")).collect()
    for r in rows:
        assert r.got == r.expected, r


def test_quality_and_fingerprint_deterministic(spark, docs):
    a = docs.select(
        textstats.quality_score(F.col("text")).alias("q"),
        textstats.fingerprint(F.col("text")).alias("fp"),
    ).collect()
    b = docs.select(
        textstats.quality_score(F.col("text")).alias("q"),
        textstats.fingerprint(F.col("text")).alias("fp"),
    ).collect()
    assert a == b
    import hashlib

    fp0 = [r.fp for r in docs.orderBy("doc_id").select(
        textstats.fingerprint(F.col("text")).alias("fp")).collect()][0]
    norm0 = " ".join(DOCS[0][1].lower().split())
    assert fp0 == hashlib.md5(norm0.encode()).hexdigest()


def test_winnowing_subset_of_kgram_hashes(spark, docs):
    rows = docs.select(
        textstats.winnowing_fingerprints(F.col("text"), k=3, window=4).alias("w")
    ).collect()
    for r in rows:
        assert len(r.w) == len(set(r.w))  # distinct
        assert len(r.w) >= 1


def test_multimodal_meta_schema_and_determinism(spark, docs):
    media = multimodal.attach_fake_media(docs, "doc_id", "text")
    meta = multimodal.extract_media_meta(media, "doc_id", "media")
    rows = {r.media_id: r for r in meta.collect()}
    assert set(rows) == {d[0] for d in DOCS}
    assert rows[0].n_bytes == 32  # sha256 payload
    again = {r.media_id: r for r in multimodal.extract_media_meta(
        media, "doc_id", "media").collect()}
    assert rows == again
    # identical text -> identical payload metadata
    assert rows[0].sha256 == rows[2].sha256


def test_multimodal_real_mode_decodes_stdlib_containers(spark, docs):
    # round 4: decode_mode="real" is no longer a stub — fake payloads
    # (sha256 hex bytes) are an UNKNOWN container, so the robust-scan
    # contract yields null dims instead of raising; real containers are
    # covered in tests/test_multimodal.py
    media = multimodal.attach_fake_media(docs.limit(3), "doc_id", "text")
    rows = multimodal.extract_media_meta(
        media, "doc_id", "media", decode_mode="real"
    ).collect()
    assert len(rows) == 3
    assert all(r.width is None and r.n_frames is None for r in rows)
    assert all(r.n_bytes == 32 for r in rows)


def test_frame_sampling(spark, docs):
    media = multimodal.attach_fake_media(docs, "doc_id", "text")
    frames = multimodal.sample_frames(media, every_n=7, id_col="doc_id").collect()
    meta = {r.media_id: r.n_frames for r in multimodal.extract_media_meta(
        media, "doc_id", "media").collect()}
    import math

    for mid, nf in meta.items():
        expected = math.floor(max(nf - 1, 0) / 7) + 1
        got = sum(1 for f in frames if f.media_id == mid)
        assert got == expected


def test_ivf_topk_recall_vs_bruteforce(spark):
    """IVF with generous n_probe recovers most exact neighbors."""
    rng = np.random.default_rng(21)
    # clustered data so IVF is meaningful: 8 gaussian blobs
    centers = rng.standard_normal((8, 12)) * 4
    rows = []
    for i in range(400):
        c = i % 8
        v = centers[c] + rng.standard_normal(12) * 0.3
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.where("vec_id < 5").select(F.col("vec_id").alias("query_id"), "embedding")
    exact = similarity.brute_force_topk(df, q, k=5).collect()
    approx = similarity.ivf_topk(df, q, k=5, n_centroids=8, n_probe=3).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r.query_id, set()).add(r.vec_id)
    hits = total = 0
    for r in approx:
        total += 1
        hits += r.vec_id in exact_sets[r.query_id]
    assert total == 25
    assert hits / total >= 0.8, (hits, total)


def test_embedding_dedup_transitive_groups(spark):
    """Chain A~B~C (each adjacent pair >= threshold, A-C below) must
    collapse to ONE keep group; singletons and docs without an
    embedding keep themselves."""
    # unit vectors in a 2-D subspace: cos(angle) controls similarity
    def vec(theta, dim=8):
        v = np.zeros(dim)
        v[0], v[1] = np.cos(theta), np.sin(theta)
        return [float(x) for x in v]

    step = 0.20  # cos(0.20)=0.980 adjacent, cos(0.40)=0.921 < 0.95
    emb_rows = [
        (0, vec(0.0)),
        (1, vec(step)),
        (2, vec(2 * step)),
        (3, vec(np.pi / 2)),   # orthogonal singleton
        (5, vec(np.pi)),       # opposite singleton
    ]
    docs = spark.createDataFrame(
        [(i,) for i in (0, 1, 2, 3, 4, 5)], "doc_id long"
    )  # doc 4 has NO embedding row
    embs = spark.createDataFrame(emb_rows, "vec_id long, embedding array<double>")
    out = {
        r.doc_id: (r.keep_id, r.is_dup)
        for r in dedup.embedding_dedup(
            docs, embs, dim=8, threshold=0.95, n_tables=48, n_planes=4
        ).collect()
    }
    assert out == {
        0: (0, False),
        1: (0, True),
        2: (0, True),  # transitive: cos(0, 2) = 0.921 < 0.95 yet same group
        3: (3, False),
        4: (4, False),
        5: (5, False),
    }


def test_embedding_dedup_no_pairs_is_identity(spark):
    """Zero near-dup pairs (orthogonal/opposite vectors at a high
    threshold) must still return every document as its own keeper —
    the closure-over-empty-edges path."""
    docs = spark.createDataFrame([(i,) for i in range(5)], "doc_id long")
    embs = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [-1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    out = sorted(
        (r.doc_id, r.keep_id, r.is_dup)
        for r in dedup.embedding_dedup(docs, embs, dim=2, threshold=0.99).collect()
    )
    assert out == [(i, i, False) for i in range(5)]


def test_embedding_dedup_matches_bruteforce_oracle(spark):
    """Randomized pin: embedding_dedup (high-recall LSH config) must
    equal the brute-force all-pairs-cosine + networkx-components
    oracle on clustered random vectors."""
    import networkx as nx

    rng = np.random.default_rng(23)
    dim, thr = 16, 0.92
    vecs = {}
    vid = 0
    for c in range(12):  # 12 clusters of 1-5 noisy copies of a center
        center = rng.standard_normal(dim)
        for _ in range(int(rng.integers(1, 6))):
            vecs[vid] = center + rng.standard_normal(dim) * 0.05
            vid += 1
    ids = sorted(vecs)
    M = np.stack([vecs[i] for i in ids])
    M = M / np.linalg.norm(M, axis=1, keepdims=True)
    S = M @ M.T
    g = nx.Graph()
    g.add_nodes_from(ids)
    for a in range(len(ids)):
        for b in range(a + 1, len(ids)):
            # guard flakiness: the construction must not land pairs
            # razor-close to the threshold
            assert abs(S[a, b] - thr) > 1e-3
            if S[a, b] >= thr:
                g.add_edge(ids[a], ids[b])
    expect = {}
    for comp in nx.connected_components(g):
        keep = min(comp)
        for n in comp:
            expect[n] = keep
    docs = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    embs = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in ids],
        "vec_id long, embedding array<double>",
    )
    got = {
        r.doc_id: r.keep_id
        for r in dedup.embedding_dedup(
            docs, embs, dim=dim, threshold=thr, n_tables=64, n_planes=4
        ).collect()
    }
    assert got == expect


def test_topk_norm_hoist_is_bit_identical_to_per_pair_cosine(spark):
    """r07: brute_force_topk materializes each side's norm once and
    scores dot/(na*nb).  The doubles must be BIT-identical to the
    per-pair cosine() formulation (same subexpressions, same order) so
    ranking and oracle hashes are unaffected."""
    rng = np.random.default_rng(23)
    vecs = rng.standard_normal((60, 12)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(60)],
        "vec_id long, embedding array<float>",
    )
    q = df.where("vec_id < 5").select(F.col("vec_id").alias("query_id"), "embedding")
    got = similarity.brute_force_topk(df, q, k=6).collect()
    ref = (
        df.crossJoin(
            F.broadcast(q.select("query_id", F.col("embedding").alias("_qvec")))
        )
        .select(
            "query_id",
            "vec_id",
            similarity.cosine(F.col("embedding"), F.col("_qvec")).alias("cosine"),
        )
        .collect()
    )
    ref_map = {(r.query_id, r.vec_id): r.cosine for r in ref}
    for r in got:
        assert r.cosine == ref_map[(r.query_id, r.vec_id)], r  # exact, not approx
