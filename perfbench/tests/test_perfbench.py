"""Tests of the benchmark's own code: event-log parsing, span self time,
metric computation and the quality checks.  No Spark session is
started; run with ``python3 -m pytest perfbench/tests -q``."""

from __future__ import annotations

import ipaddress
import json
import sys
from pathlib import Path

import numpy as np
import pandas as pd
import pytest

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE.parent))
sys.path.insert(0, str(HERE))

import harness  # noqa: E402
import inputs  # noqa: E402
import oracles  # noqa: E402
import run  # noqa: E402
import selfcheck  # noqa: E402
from tracing import GROUP_PREFIX, Tracer, parse_event_log, self_time  # noqa: E402


# --- event log ----------------------------------------------------------------


def _task(stage, run_ms, cpu_ns, gc_ms, sw=0, sr=(0, 0), spill=(0, 0), accs=()):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {"Accumulables": [{"ID": 100 + k, "Name": n, "Update": str(u)}
                                       for k, (n, u) in enumerate(accs)]},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": cpu_ns,
            "JVM GC Time": gc_ms,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": sw},
            "Shuffle Read Metrics": {"Remote Bytes Read": sr[0], "Local Bytes Read": sr[1]},
            "Memory Bytes Spilled": spill[0],
            "Disk Bytes Spilled": spill[1],
        },
    }


def test_parse_event_log_attributes_tasks_and_python_metrics(tmp_path):
    py = [("time to run Python workers", 2000), ("data sent to Python workers", 300),
          ("data returned from Python workers", 200), ("number of output rows", 5)]
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": GROUP_PREFIX + "functions.geoip_full_s"}},
        _task(0, 100, 5e7, 10, sw=1000, accs=py),
        _task(1, 300, 1e8, 0, sr=(10, 20), spill=(4, 6), accs=[("time to run Python workers", 1000)]),
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2], "Properties": {}},
        _task(2, 50, 0, 0),
    ]
    log = tmp_path / "app-1"
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    groups = parse_event_log(log)
    g = groups[GROUP_PREFIX + "functions.geoip_full_s"]
    assert (g["jobs"], g["stages"], g["tasks"]) == (1, 2, 2)
    assert g["task_s"] == pytest.approx(0.4)
    assert g["task_cpu_s"] == pytest.approx(0.15)
    assert g["gc_s"] == pytest.approx(0.01)
    assert (g["shuffle_write_b"], g["shuffle_read_b"], g["spill_b"]) == (1000, 30, 10)
    assert g["task_durations"] == [0.1, 0.3]
    assert g["python_s"] == pytest.approx(3.0)
    assert (g["python_sent_b"], g["python_returned_b"]) == (300, 200)
    assert groups[""]["tasks"] == 1  # ungrouped jobs stay apart


# One job and one task of a real Spark 4.1.2 event log: a pandas UDF that
# sleeps 1 s over one partition, the task's Python accumulables verbatim.
# The plan gives "time to run Python workers" metricType "timing" (ms).
_REAL_EVENTS = [
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0]},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Info": {"Accumulables": [
        {"ID": 103, "Name": "data sent to Python workers", "Update": "8272", "Value": "8272",
         "Internal": True, "Count Failed Values": True, "Metadata": "sql"},
        {"ID": 104, "Name": "data returned from Python workers", "Update": "8144",
         "Value": "8144", "Internal": True, "Count Failed Values": True, "Metadata": "sql"},
        {"ID": 105, "Name": "time to start Python workers", "Update": "1960", "Value": "1960",
         "Internal": True, "Count Failed Values": True, "Metadata": "sql"},
        {"ID": 106, "Name": "time to initialize Python workers", "Update": "1065",
         "Value": "1065", "Internal": True, "Count Failed Values": True, "Metadata": "sql"},
        {"ID": 107, "Name": "time to run Python workers", "Update": "4033", "Value": "4033",
         "Internal": True, "Count Failed Values": True, "Metadata": "sql"}]},
     "Task Metrics": {"Executor Run Time": 4732, "Executor CPU Time": 917275402,
                      "JVM GC Time": 76}},
]


def test_python_worker_time_is_read_in_milliseconds(tmp_path):
    log = tmp_path / "app-real"
    log.write_text("\n".join(json.dumps(e) for e in _REAL_EVENTS) + "\n")
    g = parse_event_log(log)[""]
    assert g["python_s"] == pytest.approx(4.033)
    # at least the UDF's 1 s sleep, at most the task's run time
    assert 1.0 <= g["python_s"] <= g["task_s"] == pytest.approx(4.732)
    assert (g["python_sent_b"], g["python_returned_b"]) == (8272, 8144)


# --- spans --------------------------------------------------------------------


def _span(i, start, end, parent=None):
    return {"id": i, "name": f"s{i}", "start": start, "end": end, "parent": parent}


def test_self_time_subtracts_children_once():
    spans = [
        _span(0, 0.0, 10.0),
        _span(1, 1.0, 4.0, parent=0),
        _span(2, 3.0, 5.0, parent=0),  # overlaps span 1
        _span(3, 7.0, 8.0, parent=0),
        _span(4, 1.5, 2.0, parent=1),  # grandchild: not subtracted from 0
    ]
    assert self_time(spans, 0) == pytest.approx(10.0 - 4.0 - 1.0)
    assert self_time(spans, 1) == pytest.approx(3.0 - 0.5)
    assert self_time(spans, 3) == pytest.approx(1.0)


def test_tracer_nests_and_disabled_is_noop():
    t = Tracer(spark=None, enabled=True)
    with t.span("outer"):
        with t.span("inner"):
            pass
    outer, inner = t.spans
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]
    t.enabled = False
    with t.span("skipped") as rec:
        assert rec is None
    assert len(t.spans) == 2 and t.durations("inner")


# --- metric computation -------------------------------------------------------


def test_quartiles_match_statistics_quantiles():
    vals = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 7.0]
    q1, med, q3 = harness.quartiles(vals)
    assert med == 4.0 and q1 < med < q3
    assert selfcheck.spread(vals) == pytest.approx((q3 - q1) / med)
    assert harness.quartiles([2.5]) == (2.5, 2.5, 2.5)


def test_warm_median_skips_warmup_and_falls_back():
    assert harness.warm_median([10.0, 3.0, 5.0, 4.0], warmup=1) == 4.0
    assert harness.warm_median([10.0], warmup=1) == 10.0


def test_ratio_is_zero_without_attempts():
    assert harness.ratio(3, 4) == 0.75 and harness.ratio(3, 0) == 0.0


def test_worse_by_respects_direction():
    assert selfcheck.worse_by(100.0, 90.0, "higher") == pytest.approx(0.1)
    assert selfcheck.worse_by(100.0, 90.0, "lower") == pytest.approx(-0.1)


def test_compare_flags_a_shifted_median():
    bench = {"end_to_end": [{"name": "items_per_s", "unit": "1/s", "better": "higher", "bound": 0.1}]}

    def rec(v):
        return {"metrics": {"items_per_s": {"value": v, "unit": "1/s"}}}

    same = [rec(v) for v in (100.0, 101.0, 99.0)]
    ok, _ = selfcheck.compare(bench, same, [rec(v) for v in (100.5, 99.5, 100.0)])
    assert ok
    ok, lines = selfcheck.compare(bench, same, [rec(v) for v in (80.0, 81.0, 79.0)])
    assert not ok and "DISAGREE" in lines[0]
    # set B better than set A by more than the bound disagrees too
    ok, lines = selfcheck.compare(bench, same, [rec(v) for v in (120.0, 121.0, 119.0)])
    assert not ok and "DISAGREE" in lines[0]


def test_record_has_every_declared_metric():
    out = run._record("end_to_end", {"setup_s": 1.5}, True, 3, 0)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert set(out["metrics"]) == {m["name"] for m in run.BENCHMARK["end_to_end"]}
    assert out["metrics"]["setup_s"] == {"value": 1.5, "unit": "s"}


def test_fingerprint_ignores_order():
    a = {"x": {(1, 2): 0.5, (0, 3): 0.25}, "y": frozenset({("a", 1), ("b", 2)})}
    b = {"y": frozenset({("b", 2), ("a", 1)}), "x": {(0, 3): 0.25, (1, 2): 0.5}}
    assert run.fingerprint(a) == run.fingerprint(b)
    assert run.fingerprint(a) != run.fingerprint({**a, "x": {(1, 2): 0.5}})


# --- inputs -------------------------------------------------------------------


def test_inputs_repeat_per_seed_and_keep_sizes():
    assert inputs.ip_rows(3).equals(inputs.ip_rows(3))
    assert not inputs.ip_rows(3).equals(inputs.ip_rows(4))
    assert len(inputs.ip_rows(4)) == inputs.N_IP_ROWS
    assert inputs.documents(5).equals(inputs.documents(5))
    assert len(inputs.documents(6)) == inputs.N_DOCS
    assert np.array_equal(inputs.embeddings(5), inputs.embeddings(5))


# --- quality checks -----------------------------------------------------------

NETS = [ipaddress.ip_network(n) for n in ("1.2.0.0/16", "2001:db8::/32")]


@pytest.mark.parametrize(
    "s, want",
    [
        (None, {"valid": None, "private": None, "num": None, "canon": None, "is_in": None}),
        ("300.1.1.1", {"valid": False, "private": False, "num": None, "canon": None, "is_in": None}),
        ("1.2.3.4", {"valid": True, "private": False, "num": 16909060, "canon": "1.2.3.4", "is_in": True}),
        ("10.0.0.1", {"valid": True, "private": True, "num": 167772161, "canon": "10.0.0.1", "is_in": False}),
        ("2001:0db8::0001", {"valid": True, "private": False, "num": None, "canon": "2001:db8::1", "is_in": True}),
        ("::ffff:1.2.3.4", {"valid": True, "private": False, "num": None, "canon": "1.2.3.4", "is_in": False}),
    ],
)
def test_scalar_expected(s, want):
    assert oracles.scalar_expected(s, NETS) == want


SIZES = {"city_networks": 100, "city_records": 10, "asn_networks": 100, "asn_records": 7,
         "spur_networks": 100, "spur_records": 10, "spur_v6_networks": 5}


def test_geoip_expected_hit_miss_and_null():
    from polars_iptools_spark.sources import mmdb_synth

    hit = oracles.geoip_expected("0.0.0.1", SIZES)
    j = mmdb_synth.record_index(0, 10)
    assert hit["city"] == mmdb_synth.city_record(j)["city"]["names"]["en"]
    assert hit["asnnum"] == 1000 + mmdb_synth.record_index(0, 7)
    miss = oracles.geoip_expected("200.0.0.1", SIZES)
    assert miss == {"asnnum": 0, "city": "", "country_iso": "", "latitude": 0.0,
                    "postalcode": "", "timezone": ""}
    assert oracles.geoip_expected("bogus", SIZES) is None
    spur_miss = oracles.spur_expected("200.0.0.1", SIZES)
    assert spur_miss["services"] == [] and spur_miss["tag"] == ""


def test_struct_agrees():
    want = {"city": "City 1", "latitude": 1.5}
    assert oracles.struct_agrees({"city": "City 1", "latitude": 1.5 + 1e-12, "x": 3}, want)
    assert not oracles.struct_agrees({"city": "City 2", "latitude": 1.5}, want)
    assert oracles.struct_agrees({"city": None, "latitude": None}, None)
    assert not oracles.struct_agrees({"city": "", "latitude": None}, None)


def test_text_truth_matches_planted_indicators():
    df, truth = inputs.text_rows(9)
    for i in range(50):
        text = df["itext"][i]
        t = truth[i]
        assert t["public_v4"][0] in text.replace("[.]", ".")
        assert t["all_v6"][:2] == [t["public_v4"][0], text.split(" and ")[1].split()[0]]


def test_exact_dedup_expected():
    docs = pd.DataFrame({"doc_id": [3, 1, 2], "text": ["a b", "a b", "c"]})
    got = oracles.exact_dedup_expected(docs)
    assert {(keep, n) for _, keep, n in got} == {(1, 2), (2, 1)}


def test_jaccard_pairs_duckdb():
    docs = pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": ["a b c d e", "a b c d f", "x y z w v"],
    })
    # shingles {abc, bcd, cde} vs {abc, bcd, cdf}: 2 / 4
    assert oracles.jaccard_pairs_duckdb(docs, 0.5) == {(1, 2): 0.5}
    assert oracles.jaccard_pairs_duckdb(docs, 0.6) == {}


def test_cosine_oracles():
    m = np.array([[1.0, 0.0], [0.9, 0.1], [0.0, 1.0]])
    pairs = oracles.cosine_pairs_expected(m, 0.9)
    assert set(pairs) == {(0, 1)}
    top = oracles.topk_expected(m, n_queries=1, k=2)
    assert top == {(0, 0, 1), (0, 1, 2)}
    assert oracles.subset_with_values({(0, 1): pairs[(0, 1)]}, pairs)
    assert not oracles.subset_with_values({(0, 2): 0.0}, pairs)


def test_identical_pairs_and_recall():
    docs = pd.DataFrame({"doc_id": [4, 1, 2, 7], "text": ["a", "a", "b", "a"]})
    assert oracles.identical_pairs(docs) == {(1, 4), (1, 7), (4, 7)}
    assert oracles.recall({(1, 4): 1.0}, {(1, 4): 1.0, (2, 3): 0.5}) == 0.5
    assert oracles.recall({}, {}) == 0.0


def _bare(cls, **attrs):
    """A workload object without a Spark session, for its check()."""
    w = cls(None, 1, Path("."), Tracer(enabled=False))
    w.__dict__.update(attrs)
    return w


def test_near_dup_check_needs_recall_and_identical_pairs():
    from workloads import TOPK, NearDup

    docs, vecs = inputs.documents(1), inputs.embeddings(1)
    exact = oracles.jaccard_pairs_duckdb(docs, 0.5)
    identical = oracles.identical_pairs(docs)
    perfect = {
        "exact": frozenset(oracles.exact_dedup_expected(docs)),
        "ngram_jaccard": exact,
        "minhash_lsh": exact,
        "simhash": frozenset((a, b, 0) for a, b in identical),
        "topk": dict.fromkeys(oracles.topk_expected(vecs, inputs.N_QUERIES, TOPK), 0.0),
        "lsh": oracles.cosine_pairs_expected(vecs, 0.9),
    }
    w = _bare(NearDup, docs_pd=docs, vecs=vecs, out=perfect)
    assert w.check()[0] == 1.0
    # an operator that returns nothing, or too little, fails its check
    few = dict(list(exact.items())[: len(exact) // 3])
    for op, bad in [("minhash_lsh", {}), ("minhash_lsh", few), ("lsh", {}),
                    ("simhash", frozenset()), ("exact", None)]:
        w.out = {**perfect, op: bad}
        quality, detail = w.check()
        assert quality < 1.0 and detail["disagreed"] == [op]


def test_ip_columns_check_reads_the_pass_samples():
    from pyspark.sql import Row

    from workloads import IP_OPS, SAMPLE_MOD, IpColumns

    ip_pd = inputs.ip_rows(1)
    texts, truth = inputs.text_rows(1)
    sizes = inputs.FIXTURE_SIZES
    nets = [ipaddress.ip_network(n) for n in inputs.IS_IN_NETWORKS]
    samples: dict[str, list] = {op: [] for op in IP_OPS}
    for rid, s in zip(ip_pd["rid"].tolist(), ip_pd["ip"]):
        if rid % SAMPLE_MOD:
            continue
        w = oracles.scalar_expected(s, nets)
        geo, spur = oracles.geoip_expected(s, sizes), oracles.spur_expected(s, sizes)
        samples["scalar_native"].append((rid, (w["valid"], w["private"], w["num"])))
        samples["to_address"].append((rid, (w["canon"],)))
        samples["is_in"].append((rid, (w["is_in"],)))
        samples["geoip_full"].append((rid, (geo and Row(**geo),)))
        samples["spur_full"].append((rid, (spur and Row(**spur),)))
    for doc_id in range(0, inputs.N_TEXT_ROWS, SAMPLE_MOD):
        samples["extract_v4"].append((doc_id, (truth[doc_id]["public_v4"],)))
        samples["extract_v6"].append((doc_id, (truth[doc_id]["all_v6"],)))
    out = {op: (0, 0, tuple(rows)) for op, rows in samples.items()}
    w = _bare(IpColumns, ip_pd=ip_pd, text_truth=truth, out=out)
    assert w.check()[0] == 1.0
    # a failed operation, or one that drops a sampled row, disagrees
    quality, detail = _bare(IpColumns, ip_pd=ip_pd, text_truth=truth,
                            out={k: v for k, v in out.items() if k != "spur_full"}).check()
    assert quality < 1.0 and set(detail["disagreed"]) == {"spur"}
    out["to_address"] = (0, 0, out["to_address"][2][1:])
    quality, detail = _bare(IpColumns, ip_pd=ip_pd, text_truth=truth, out=out).check()
    assert detail["disagreed"] == {"canon": 1}


# --- pass loop ----------------------------------------------------------------


class _Fake:
    """A workload without Spark: each pass returns its op outputs, after
    ``sleep`` seconds; ``flip`` changes the output of the third pass."""

    name = "fake"
    warmup = 1
    ops = ["a", "b"]

    def __init__(self, sleep=0.0, flip=False):
        self.sleep, self.flip, self.n, self.concurrent = sleep, flip, 0, []

    def run_pass(self, concurrent=False):
        import time

        time.sleep(self.sleep)
        self.n += 1
        self.concurrent.append(concurrent)
        return {"a": 1, "b": 2 if not (self.flip and self.n == 3) else 3}, 0

    traced_pass = run_pass


def test_closed_loop_runs_a_timed_pass_after_the_warm_up():
    wl = _Fake()
    walls, traced, attempted, failed, out = run.closed_loop(wl, 0.0, False, Tracer(enabled=False))
    assert len(walls) == 2 and traced == [] and (attempted, failed) == (4, 0)
    assert wl.concurrent == [True, False]  # only the warm-up pass is concurrent
    assert out == run.fingerprint({"a": 1, "b": 2})


def test_closed_loop_traced_ends_on_a_whole_u_t_t_u_block():
    walls, traced, _, _, _ = run.closed_loop(_Fake(), 0.0, True, Tracer(enabled=False))
    assert len(walls) == 1 + 2 and len(traced) == 2


def test_closed_loop_flags_passes_that_disagree():
    _, _, _, _, out = run.closed_loop(_Fake(flip=True), 0.0, True, Tracer(enabled=False))
    assert out is None


def test_run_pass_concurrent_matches_sequential_and_counts_failures():
    from workloads import Workload

    class W(Workload):
        layer = {"ok": "x.ok_s", "boom": "x.boom_s", "two": "x.two_s"}

        def _calls(self):
            def boom():
                raise ValueError("planted")

            return {"ok": lambda: 1, "boom": boom, "two": lambda: 2}

    w = W(None, 0, Path("."), Tracer(enabled=False))
    assert w.run_pass() == ({"ok": 1, "two": 2}, 1)
    assert w.run_pass(concurrent=True) == ({"ok": 1, "two": 2}, 1)
    assert w.ops == ["ok", "boom", "two"]
