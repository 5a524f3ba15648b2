"""The three workloads.  Each is a closed loop of passes with one client:
the next pass starts when the previous one has finished.

``run.py`` drives a workload object in four steps: ``setup()``
(fixtures, inputs and caches; ``timings`` collects its parts),
``run_pass()`` repeatedly, ``check()`` once on the last pass's outputs
and, in a traced run, ``layers()`` for the per-layer counts.  The engine
is called only through its public functions and receives only the
generated inputs.
"""

from __future__ import annotations

import ipaddress
import shutil
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import inputs
import oracles
from harness import median, ratio
from tracing import COUNT_GROUP, Tracer


def _dir_mb(path: Path) -> float:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file()) / 2**20


class Workload:
    name = ""
    warmup = 1  # passes excluded from the warm-pass median
    quality_bar = 1.0  # least quality of a correct run
    items_per_pass = 0
    layer: dict[str, str] = {}  # operation -> span (per-layer metric) name

    def __init__(self, spark, seed: int, work: Path, tracer: Tracer):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self.timings: dict[str, float] = {}

    @property
    def ops(self) -> list[str]:
        return list(self.layer)

    def _count_group(self) -> None:
        self.spark.sparkContext.setJobGroup(COUNT_GROUP, "per-layer counts")

    def _calls(self) -> dict:
        """operation -> zero-argument call that runs it and returns its outputs."""
        raise NotImplementedError

    def _after_pass(self) -> None:
        pass

    def _one(self, op: str, call) -> tuple[object, int]:
        try:
            with self.tracer.span(self.layer[op]):
                return call(), 0
        except Exception:  # a failed operation is counted, not fatal
            traceback.print_exc()
            return None, 1

    def run_pass(self, concurrent: bool = False) -> tuple[dict, int]:
        """Every operation once, in order.  ``concurrent`` submits them all
        at once: the warm-up pass uses it to overlap the first-use costs
        (code generation, JIT, Python worker start); no metric times it."""
        calls = self._calls()
        if concurrent:
            with ThreadPoolExecutor(len(calls)) as pool:
                futures = {op: pool.submit(self._one, op, call) for op, call in calls.items()}
                results = {op: f.result() for op, f in futures.items()}
        else:
            results = {op: self._one(op, call) for op, call in calls.items()}
        self._after_pass()
        self.out = {op: out for op, (out, bad) in results.items() if not bad}
        return self.out, sum(bad for _, bad in results.values())

    def traced_pass(self) -> tuple[dict, int]:
        return self.run_pass()


# --- linkage ------------------------------------------------------------------

# the corpus is cut to the first entities that reach TARGET_FILES, so its
# size (and a pass's work) does not depend on the seed's Zipf draw
TARGET_FILES = 2_000
MAX_ENTITIES = 2_000
HOT_ENTITIES = 30  # 30 x 20 rows in one /24: over max_block_records, so refined
LINKAGE_NETWORKS, LINKAGE_RECORDS = 20_000, 5_000  # covers 1.0.0.0/8 corpus IPs
STAGE_LAYER = {
    "01_indicators": "blocking.extract_s",
    "02_refined": "blocking.enrich_block_s",
    "03_scored": "scoring.score_s",
    "04_clusters": "closure.s",
}


class Linkage(Workload):
    name = "linkage"
    quality_bar = 0.99  # the paper's F1 target
    layer = {"pipeline": "linkage.pipeline"}

    def setup(self) -> None:
        import numpy as np

        from polars_iptools_spark.functions import geoip
        from polars_iptools_spark.sources.corpus import size_plan, synth_corpus
        from polars_iptools_spark.sources.mmdb_synth import write_synthetic_geolite

        t0 = time.monotonic()
        self.mmdb = str(self.work / "data" / "mmdb")
        write_synthetic_geolite(
            self.mmdb,
            n_city_networks=LINKAGE_NETWORKS,
            n_city_records=LINKAGE_RECORDS,
            n_asn_networks=LINKAGE_NETWORKS,
            n_asn_records=LINKAGE_RECORDS,
        )
        t1 = time.monotonic()
        # synth_corpus's size plan draws sizes in entity order, so a prefix
        # of entities is the same corpus prefix for any n_entities
        cum = size_plan(self.seed, MAX_ENTITIES, 2, True, HOT_ENTITIES, 20, 48)
        self.n_entities = int(np.searchsorted(cum, TARGET_FILES)) + 1
        geoip.full("ip", db_dir=self.mmdb)  # table decode + broadcast
        t2 = time.monotonic()
        corpus, truth = synth_corpus(
            self.spark,
            n_entities=self.n_entities,
            records_per_entity=2,
            n_blocks=self.n_entities // 20,
            seed=self.seed,
            zipf_sizes=True,
            hot_entities=HOT_ENTITIES,
            hot_cluster_size=20,
        )
        self.corpus = corpus.localCheckpoint(eager=True)
        self.truth = truth.localCheckpoint(eager=True)
        self.items_per_pass = self.corpus.count()
        t3 = time.monotonic()
        self.timings.update(
            {"sources.mmdb_build_s": t1 - t0, "sources.mmdb_load_s": t2 - t1,
             "sources.corpus_gen_s": t3 - t2, "fixtures_s": t2 - t0, "inputs_s": t3 - t2}
        )
        self._n = 0
        self._last_dir: Path | None = None
        self.stage_walls: list[dict] = []  # per traced pass

    def run_pass(self, concurrent: bool = False) -> tuple[object, int]:
        """One pipeline run; its stages are sequential, so ``concurrent``
        changes nothing."""
        from polars_iptools_spark.plans.pipeline import run_pipeline

        if self._last_dir is not None:
            shutil.rmtree(self._last_dir, ignore_errors=True)
        self._n += 1
        self._last_dir = self.work / "data" / f"ckpt{self._n}"
        with self.tracer.span(self.layer["pipeline"]):
            self.res = run_pipeline(self.spark, self.corpus, str(self._last_dir), mmdb_dir=self.mmdb)
        return tuple(self.res["metrics"][s]["rows"] for s in STAGE_LAYER), 0

    def check(self) -> tuple[float, dict]:
        from polars_iptools_spark.plans.pipeline import pairwise_f1

        m = pairwise_f1(self.res["clusters"], self.truth, self.res["blocked"])
        return m["f1"], {"f1": m["f1"], "tp": m["tp"], "fp": m["fp"], "fn": m["fn"]}

    def traced_pass(self) -> tuple[object, int]:
        """run_pass, keeping the wall of each committed stage."""
        out = self.run_pass()
        self.stage_walls.append({s: self.res["metrics"][s]["wall_sec"] for s in STAGE_LAYER})
        return out

    def layers(self) -> dict:
        from pyspark.sql import functions as F

        from polars_iptools_spark.operators.closure import connected_components
        from polars_iptools_spark.plans import scoring
        from polars_iptools_spark.plans.pipeline import run_pipeline

        self._count_group()
        res = self.res
        out = {}
        refined = res["blocked"]
        keys = refined.select("block_key").distinct()
        cand = res["pairs"].count()
        hot = scoring.hot_candidates(res["pairs"]).count()
        edges = res["edges"].count()
        out.update(
            {
                "blocking.indicators": res["metrics"]["01_indicators"]["rows"],
                "blocking.block_keys": keys.count(),
                # refined keys carry the indicator as a 4th '|' field
                "blocking.refined_keys": keys.where(
                    F.size(F.split("block_key", r"\|")) > 3
                ).count(),
                "blocking.candidate_pairs": cand,
                "scoring.hot_pairs": hot,
                "scoring.hot_ratio": ratio(hot, cand),
                "scoring.edges": edges,
                "scoring.edge_yield": ratio(edges, hot),
            }
        )
        for stage, name in STAGE_LAYER.items():
            out[name] = median([w[stage] for w in self.stage_walls])
        stats: dict = {}
        comp = connected_components(res["edges"], stats=stats)
        clusters = comp.select("component").distinct().count()
        out.update(
            {
                "closure.supersteps": stats["supersteps"],
                "closure.normalize_s": stats["normalize_s"],
                "closure.superstep_s": median(stats["superstep_walls"]),
                "closure.clusters": clusters,
            }
        )
        skews = []
        for m in res["metrics"].values():
            s = m.get("partition_rows_summary")
            if s and s["p50"]:
                skews.append(s["max"] / s["p50"])
        out["checkpoint.written_mb"] = _dir_mb(self._last_dir)
        out["checkpoint.partition_skew"] = max(skews) if skews else 0.0
        t0 = time.monotonic()
        again = run_pipeline(self.spark, self.corpus, str(self._last_dir), mmdb_dir=self.mmdb)
        again["clusters"].count()
        out["checkpoint.resume_s"] = time.monotonic() - t0
        return out


# --- ip_columns ---------------------------------------------------------------

IP_OPS = {
    "scalar_native": "functions.scalar_native_s",
    "to_address": "functions.to_address_s",
    "is_in": "functions.is_in_s",
    "extract_v4": "functions.extract_v4_s",
    "extract_v6": "functions.extract_v6_s",
    "geoip_full": "functions.geoip_full_s",
    "spur_full": "functions.spur_full_s",
}
SAMPLE_MOD = 61  # check() compares every 61st row with the oracles
_MISSING = object()  # a sampled row the pass did not return


class IpColumns(Workload):
    name = "ip_columns"
    layer = IP_OPS

    def setup(self) -> None:
        from polars_iptools_spark.functions import geoip, spur
        from polars_iptools_spark.sources.mmdb_synth import (
            write_synthetic_geolite,
            write_synthetic_spur,
        )

        t0 = time.monotonic()
        self.mmdb = str(self.work / "data" / "mmdb")
        write_synthetic_geolite(
            self.mmdb,
            n_city_networks=inputs.CITY_NETWORKS,
            n_city_records=inputs.CITY_RECORDS,
            n_asn_networks=inputs.ASN_NETWORKS,
            n_asn_records=inputs.ASN_RECORDS,
        )
        write_synthetic_spur(
            self.mmdb,
            n_networks=inputs.SPUR_NETWORKS,
            n_records=inputs.SPUR_RECORDS,
            n_v6_networks=inputs.SPUR_V6_NETWORKS,
        )
        t1 = time.monotonic()
        geoip.full("ip", db_dir=self.mmdb)  # table decode + broadcast
        spur.full("ip", db_dir=self.mmdb)
        t2 = time.monotonic()
        self.ip_pd = inputs.ip_rows(self.seed)
        texts, self.text_truth = inputs.text_rows(self.seed)
        self.ips = self.spark.createDataFrame(self.ip_pd).repartition(6).localCheckpoint(eager=True)
        self.texts = self.spark.createDataFrame(texts).repartition(6).localCheckpoint(eager=True)
        t3 = time.monotonic()
        self.items_per_pass = 5 * inputs.N_IP_ROWS + 2 * inputs.N_TEXT_ROWS
        self.timings.update(
            {"sources.mmdb_build_s": t1 - t0, "sources.mmdb_load_s": t2 - t1,
             "fixtures_s": t2 - t0, "inputs_s": t3 - t2}
        )

    def _exprs(self) -> dict:
        """operation -> (input frame, its row key, output columns)."""
        import polars_iptools_spark as ip
        from pyspark.sql import functions as F

        c, t = F.col("ip"), F.col("itext")
        ips, texts = (self.ips, "rid"), (self.texts, "doc_id")
        return {
            "scalar_native": (*ips, [ip.is_valid(c), ip.is_private(c), ip.ipv4_to_numeric(c)]),
            "to_address": (*ips, [ip.to_string(ip.to_address(c))]),
            "is_in": (*ips, [ip.is_in(c, inputs.IS_IN_NETWORKS)]),
            "extract_v4": (*texts, [ip.extract_public_ips(t)]),
            "extract_v6": (*texts, [ip.extract_ips(t, ipv6=True)]),
            "geoip_full": (*ips, [ip.geoip.full(c, db_dir=self.mmdb)]),
            "spur_full": (*ips, [ip.spur.full(c, db_dir=self.mmdb)]),
        }

    def _calls(self) -> dict:
        """Each call returns (rows, xxhash64 checksum of every output, the
        outputs of every SAMPLE_MOD-th row as (key, output) pairs), all
        from one aggregation, so check() sees what the timed plan computed."""
        from pyspark.sql import functions as F

        def checksum(df, key, cols):
            sampled = F.col("k") % SAMPLE_MOD == 0
            row = df.select(F.col(key).alias("k"), F.struct(*cols).alias("v")).agg(
                F.count(F.lit(1)).alias("n"),
                F.bit_xor(F.xxhash64("v")).alias("h"),
                F.collect_list(F.when(sampled, F.struct("k", "v"))).alias("s"),
            ).collect()[0]
            return row["n"], row["h"], tuple(sorted(((r["k"], r["v"]) for r in row["s"]),
                                                    key=lambda kv: kv[0]))

        return {
            op: (lambda args=args: checksum(*args))
            for op, args in self._exprs().items()
        }

    def check(self) -> tuple[float, dict]:
        """The last pass's sampled outputs against the oracles; an
        operation that failed or dropped a sampled row disagrees there."""
        sizes = inputs.FIXTURE_SIZES
        got = {op: dict(self.out[op][2]) if op in self.out else {} for op in IP_OPS}

        def val(op, key, i=0):
            row = got[op].get(key)
            return _MISSING if row is None else row[i]

        def agrees_struct(v, want):
            return v is not _MISSING and oracles.struct_agrees(v and v.asDict(), want)

        nets = [ipaddress.ip_network(n) for n in inputs.IS_IN_NETWORKS]
        results: list[tuple[str, bool]] = []
        for rid, s in zip(self.ip_pd["rid"].tolist(), self.ip_pd["ip"]):
            if rid % SAMPLE_MOD:
                continue
            want = oracles.scalar_expected(s, nets)
            results += [
                ("valid", val("scalar_native", rid, 0) == want["valid"]),
                ("private", val("scalar_native", rid, 1) == want["private"]),
                ("num", val("scalar_native", rid, 2) == want["num"]),
                ("canon", val("to_address", rid) == want["canon"]),
                ("is_in", val("is_in", rid) == want["is_in"]),
                ("geo", agrees_struct(val("geoip_full", rid), oracles.geoip_expected(s, sizes))),
                ("spur", agrees_struct(val("spur_full", rid), oracles.spur_expected(s, sizes))),
            ]
        for doc_id in range(0, inputs.N_TEXT_ROWS, SAMPLE_MOD):
            want = self.text_truth[doc_id]
            results += [
                ("extract_v4", val("extract_v4", doc_id) == want["public_v4"]),
                ("extract_v6", val("extract_v6", doc_id) == want["all_v6"]),
            ]
        bad: dict[str, int] = {}
        for k, ok in results:
            if not ok:
                bad[k] = bad.get(k, 0) + 1
        return 1 - sum(bad.values()) / len(results), {"checked": len(results), "disagreed": bad}

    def layers(self) -> dict:
        import polars_iptools_spark as ip
        from pyspark.sql import functions as F

        self._count_group()
        extracted = self.texts.select(
            F.sum(F.size(ip.extract_ips(F.col("itext"), ipv6=True))).alias("n")
        ).collect()[0]["n"]
        valid_v4 = ip.ipv4_to_numeric(F.col("ip")).isNotNull()
        # a valid address outside every network reads city ""
        hit = ip.geoip.full(F.col("ip"), db_dir=self.mmdb)["city"] != ""
        row = self.ips.agg(
            F.sum(valid_v4.cast("long")).alias("v4"),
            F.sum((valid_v4 & hit).cast("long")).alias("hit"),
        ).collect()[0]
        return {
            "functions.extracted_ips": extracted,
            "functions.geoip_hit_ratio": ratio(row["hit"], row["v4"]),
        }


# --- near_dup -----------------------------------------------------------------

JACCARD_T = 0.5
LSH_T, LSH_TABLES, LSH_PLANES = 0.9, 8, 12
# least recall of the banded operators against the exact pairs.  MinHash
# (32 hashes in 8 bands of 4): the S-curve 1 - (1 - J^4)^8 over the DuckDB
# pairs predicts 0.71-0.75 for seeds 1-20, with a binomial sd near 0.03.
# Hyperplane LSH (8 tables of 12 planes): 1 - (1 - (1 - theta/pi)^12)^8
# over the NumPy pairs predicts 0.987-0.997.
MINHASH_RECALL_FLOOR = 0.55
LSH_RECALL_FLOOR = 0.95
TOPK = 10
DEDUP_OPS = {
    "exact": "dedup.exact_s",
    "ngram_jaccard": "dedup.ngram_jaccard_s",
    "minhash_lsh": "dedup.minhash_lsh_s",
    "simhash": "dedup.simhash_s",
    "topk": "similarity.topk_s",
    "lsh": "similarity.lsh_s",
}


class NearDup(Workload):
    name = "near_dup"
    layer = DEDUP_OPS

    def setup(self) -> None:
        import numpy as np
        import pandas as pd
        from pyspark.sql import functions as F

        t0 = time.monotonic()
        self.docs_pd = inputs.documents(self.seed)
        self.vecs = inputs.embeddings(self.seed)
        self.docs = self.spark.createDataFrame(self.docs_pd).repartition(3).localCheckpoint(eager=True)
        emb = self.spark.createDataFrame(
            pd.DataFrame({"vec_id": np.arange(len(self.vecs)), "embedding": list(self.vecs)}),
            "vec_id long, embedding array<double>",
        )
        self.emb = emb.repartition(3).localCheckpoint(eager=True)
        self.queries = self.emb.where(F.col("vec_id") < inputs.N_QUERIES).select(
            F.col("vec_id").alias("query_id"), "embedding"
        ).localCheckpoint(eager=True)
        self.timings.update({"fixtures_s": 0.0, "inputs_s": time.monotonic() - t0})
        self.items_per_pass = 4 * inputs.N_DOCS + 2 * inputs.N_VECS

    def _minhash(self, threshold: float):
        from polars_iptools_spark.operators import dedup

        with dedup.CacheScope() as caches:
            return self._pairs(
                dedup.minhash_lsh_pairs(
                    self.docs, "doc_id", "text", k=3, num_hashes=32, bands=8,
                    threshold=threshold, max_shingle_freq=None, caches=caches,
                ), "doc_a", "doc_b", "jaccard",
            )

    @staticmethod
    def _pairs(df, a, b, v) -> dict:
        return {(r[a], r[b]): round(r[v], 9) for r in df.collect()}

    def _calls(self) -> dict:
        from polars_iptools_spark.operators import dedup, similarity

        d = self.docs
        return {
            "exact": lambda: frozenset(
                tuple(r) for r in dedup.exact_dedup(d, "doc_id", "text").collect()
            ),
            "ngram_jaccard": lambda: self._pairs(
                dedup.ngram_jaccard_pairs(
                    d, "doc_id", "text", k=3, threshold=JACCARD_T, max_shingle_freq=None
                ), "doc_a", "doc_b", "jaccard",
            ),
            "minhash_lsh": lambda: self._minhash(JACCARD_T),
            "simhash": self._simhash,
            "topk": lambda: {
                (r["query_id"], r["vec_id"], r["rank"]): round(r["cosine"], 9)
                for r in similarity.brute_force_topk(self.emb, self.queries, k=TOPK).collect()
            },
            "lsh": lambda: self._pairs(
                similarity.lsh_near_duplicates(
                    self.emb, dim=inputs.DIM, threshold=LSH_T,
                    n_tables=LSH_TABLES, n_planes=LSH_PLANES,
                ), "id_a", "id_b", "cosine",
            ),
        }

    def _after_pass(self) -> None:
        # lsh_near_duplicates keeps its bucket frame cached; inputs are
        # local checkpoints, which clearCache leaves in place
        self.spark.catalog.clearCache()

    def _simhash(self):
        from polars_iptools_spark.operators import dedup

        with dedup.CacheScope() as caches:
            df = dedup.simhash_pairs(self.docs, "doc_id", "text", max_hamming=3, bands=4, caches=caches)
            return frozenset(tuple(r) for r in df.collect())

    def check(self) -> tuple[float, dict]:
        """Six checks, one per operation: exact dedup equals pandas; n-gram
        pairs equal DuckDB's; MinHash and hyperplane-LSH pairs are true
        pairs with the true value and reach their recall floors; MinHash
        and SimHash both report every pair of identical texts."""
        out = self.out
        self.exact_pairs = oracles.jaccard_pairs_duckdb(self.docs_pd, JACCARD_T)
        identical = oracles.identical_pairs(self.docs_pd)
        cosine = oracles.cosine_pairs_expected(self.vecs, LSH_T)
        ngram, minhash, lsh = (out.get(op) for op in ("ngram_jaccard", "minhash_lsh", "lsh"))
        simhash = {(a, b): h for a, b, h in out.get("simhash", ())}
        recall = {
            "minhash_lsh": oracles.recall(minhash or (), self.exact_pairs),
            "lsh": oracles.recall(lsh or (), cosine),
        }
        results = {
            "exact": out.get("exact") == frozenset(oracles.exact_dedup_expected(self.docs_pd)),
            "ngram_jaccard": ngram is not None and set(ngram) == set(self.exact_pairs)
            and oracles.subset_with_values(ngram, self.exact_pairs),
            "minhash_lsh": minhash is not None
            and oracles.subset_with_values(minhash, self.exact_pairs)
            and identical <= set(minhash)
            and recall["minhash_lsh"] >= MINHASH_RECALL_FLOOR,
            "simhash": bool(identical) and all(simhash.get(p) == 0 for p in identical),
            "topk": "topk" in out
            and set(out["topk"]) == oracles.topk_expected(self.vecs, inputs.N_QUERIES, TOPK),
            "lsh": lsh is not None
            and oracles.subset_with_values(lsh, cosine)
            and recall["lsh"] >= LSH_RECALL_FLOOR,
        }
        agreed = sum(results.values())
        return agreed / len(results), {
            "checked": len(results),
            "disagreed": [k for k, ok in results.items() if not ok],
            "exact_pairs": len(self.exact_pairs),
            "identical_pairs": len(identical),
            "recall": recall,
        }

    def layers(self) -> dict:
        self._count_group()
        out = self.out
        minhash = out.get("minhash_lsh", {})
        candidates = self._minhash(0.0)  # every bucket-join candidate, verified at 0
        return {
            "dedup.ngram_pairs": len(out.get("ngram_jaccard", {})),
            "dedup.minhash_recall": oracles.recall(minhash, self.exact_pairs),
            "dedup.lsh_verify_ratio": ratio(len(minhash), len(candidates)),
            "similarity.lsh_pairs": len(out.get("lsh", {})),
        }


WORKLOADS = {w.name: w for w in (Linkage, IpColumns, NearDup)}
