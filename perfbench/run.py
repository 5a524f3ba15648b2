"""Benchmark entry point.

    python3 perfbench/run.py --workload linkage --seed 1 --seconds 12 --trace 0

Run from the root of a checkout.  With ``--trace 0`` the last stdout line
is the end-to-end record (setup_s, items_per_s, quality, ok_ratio,
peak_rss_mb); with ``--trace 1`` it is the per-layer record of a
separate traced run.  The line before it holds the host record and the
per-pass walls, for the reader; nothing in it changes a metric.
Exits non-zero without a result when the engine cannot be imported.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import signal
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
BENCHMARK = json.loads((REPO / "BENCHMARK.json").read_text())


def _record(section: str, values: dict, correct: bool, attempted: int, failed: int) -> dict:
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in BENCHMARK[section]
    }
    return {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}


def fingerprint(digest) -> str:
    """Order-independent hash of a pass's outputs, so runs can be compared."""

    def norm(x):
        if isinstance(x, dict):
            return sorted((repr(k), norm(v)) for k, v in x.items())
        if isinstance(x, (set, frozenset)):
            return sorted(repr(v) for v in x)
        return repr(x)

    return hashlib.sha256(repr(norm(digest)).encode()).hexdigest()[:16]


def closed_loop(wl, seconds: float, traced: bool, tracer) -> tuple[list, list, int, int, str | None]:
    """Passes back to back until ``seconds`` have elapsed and at least one
    pass after the warm-up has run.  Untraced runs time every pass.  After
    the warm-up a traced run orders untraced (U) and traced (T) passes
    U T T U, so the warm-up trend cancels out of the overhead, and ends
    only on a whole U T T U block.
    Returns (untraced walls, traced walls, attempted, failed, output
    fingerprint or None when passes disagreed)."""
    walls, traced_walls = [], []
    attempted = failed = 0
    first_digest = None
    consistent = True
    deadline = time.monotonic() + seconds
    n = 0
    while True:
        use_trace = traced and n >= wl.warmup and (n - wl.warmup) % 4 in (1, 2)
        tracer.enabled = use_trace
        t0 = time.monotonic()
        if use_trace:
            with tracer.span(f"{wl.name}.pass"):
                digest, bad = wl.traced_pass()
        else:
            digest, bad = wl.run_pass(concurrent=n < wl.warmup)
        dt = time.monotonic() - t0
        tracer.enabled = False
        (traced_walls if use_trace else walls).append(dt)
        attempted += len(wl.ops)
        failed += bad
        if first_digest is None:
            first_digest = digest
        elif digest != first_digest:
            consistent = False
        n += 1
        block_done = not traced or (traced_walls and (n - wl.warmup) % 4 == 0)
        if time.monotonic() >= deadline and len(walls) > wl.warmup and block_done:
            break
    return walls, traced_walls, attempted, failed, fingerprint(first_digest) if consistent else None


def layer_values(wl, tracer, layer: dict, groups: dict, walls: list, traced_walls: list,
                 session_s: float) -> dict:
    """Per-layer metrics of a traced run: span medians over the traced
    passes, the workload's counts, set-up parts, and the Spark metrics of
    the spans' job groups per traced pass."""
    import harness
    from tracing import GROUP_PREFIX, self_time

    values = dict(wl.timings)
    values.update(layer)
    spans = tracer.spans
    for name in {s["name"] for s in spans}:
        values[name] = harness.median(tracer.durations(name))
    passes = [s["id"] for s in spans if s["name"] == f"{wl.name}.pass"]
    warm = harness.warm_median(walls, wl.warmup)
    values.update(
        {
            "trace.pass_self_s": harness.median([self_time(spans, i) for i in passes]),
            "trace.overhead": harness.median(traced_walls) / warm,
            "setup.session_s": session_s,
            "setup.fixtures_s": wl.timings["fixtures_s"],
            "setup.inputs_s": wl.timings["inputs_s"],
            "setup.first_pass_s": walls[0],
        }
    )
    ours = [g for k, g in groups.items() if k.startswith(GROUP_PREFIX)]
    n = len(traced_walls)
    total = {k: sum(g[k] for g in ours) / n for k in (
        "jobs", "stages", "task_s", "task_cpu_s", "gc_s", "shuffle_write_b",
        "shuffle_read_b", "spill_b", "python_s", "python_sent_b", "python_returned_b")}
    durs = [d for g in ours for d in g["task_durations"]]
    mb = 2**20
    values.update(
        {
            "spark.jobs": total["jobs"],
            "spark.stages": total["stages"],
            "spark.task_s": total["task_s"],
            "spark.task_cpu_s": total["task_cpu_s"],
            "spark.gc_s": total["gc_s"],
            "spark.shuffle_write_mb": total["shuffle_write_b"] / mb,
            "spark.shuffle_read_mb": total["shuffle_read_b"] / mb,
            "spark.spill_mb": total["spill_b"] / mb,
            "spark.task_skew": harness.ratio(max(durs), harness.median(durs)) if durs else 0.0,
            "spark.python_s": total["python_s"],
            "spark.python_sent_mb": total["python_sent_b"] / mb,
            "spark.python_returned_mb": total["python_returned_b"] / mb,
        }
    )
    return values


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in BENCHMARK["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, str(REPO))
    sys.path.insert(0, str(HERE))
    import harness
    from tracing import Tracer, find_event_log, parse_event_log
    from workloads import WORKLOADS

    try:
        import polars_iptools_spark  # noqa: F401  the engine under test
    except ImportError as e:
        print(f"engine not importable from {REPO}: {e}", file=sys.stderr)
        return 2

    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    host_state = harness.host_record_start()
    with harness.WorkDir(REPO) as work, harness.RssSampler() as rss:
        harness.prepare_env(REPO, work)
        traced = bool(args.trace)
        spark = None
        t0 = time.monotonic()
        try:
            spark = harness.start_session(work, trace=traced)
            spark.range(1).count()  # the session is usable
            session_s = time.monotonic() - t0
            tracer = Tracer(spark, enabled=False)
            wl = WORKLOADS[args.workload](spark, args.seed, work, tracer)
            wl.setup()
            setup_s = time.monotonic() - t0
            walls, traced_walls, attempted, failed, outputs = closed_loop(
                wl, args.seconds, traced, tracer
            )
            t1 = time.monotonic()
            quality, detail = wl.check()
            layer = wl.layers() if traced else {}
            t2 = time.monotonic()
        except Exception:
            traceback.print_exc()
            return 1
        finally:
            if spark is not None:
                harness.stop_session(spark)
        phases = {"session": session_s, "setup": setup_s, "loop": t1 - t0 - setup_s,
                  "check": t2 - t1, "stop": time.monotonic() - t2}
        peak_rss_mb = rss.peak / 2**20 if not traced else None
        if traced:
            groups = parse_event_log(find_event_log(work / "eventlog"))
    host = harness.host_record_end(host_state)

    warm = harness.warm_median(walls, wl.warmup)
    correct = outputs is not None and failed == 0 and quality >= wl.quality_bar
    # the spans, kept in memory during the run, are written out here
    spans = [{**s, "start": s["start"] - t0, "end": s["end"] - t0} for s in tracer.spans]
    print(json.dumps({"host": host, "pass_walls_s": walls, "traced_pass_walls_s": traced_walls,
                      "items_per_pass": wl.items_per_pass, "check": detail,
                      "outputs": outputs, "phases_s": phases, "spans": spans}), flush=True)
    if not traced:
        values = {
            "setup_s": setup_s,
            "items_per_s": wl.items_per_pass / warm,
            "quality": quality,
            "ok_ratio": (attempted - failed) / attempted,
            "peak_rss_mb": peak_rss_mb,
        }
        print(json.dumps(_record("end_to_end", values, correct, attempted, failed)))
        return 0

    values = layer_values(wl, tracer, layer, groups, walls, traced_walls, session_s)
    print(json.dumps(_record("per_layer", values, correct, attempted, failed)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
