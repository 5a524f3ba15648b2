"""Steadiness self-check: two interleaved sets of runs of the same code.

    python3 perfbench/selfcheck.py --workload near_dup --runs 5
    python3 perfbench/selfcheck.py --workload linkage --runs 5 --first-seed 100

Runs set A and set B alternately (A B A B ...), each run on its own
seed (set A takes the even offsets from ``--first-seed``, set B the odd
ones), so host drift hits both sets alike.  Prints every end-to-end
metric with its unit, each set's median and quartiles, the spread
(q3 - q1) / median over all runs, and whether the sets agree: every
metric's spread within its bound, and set B's median within the bound
of set A's, in either direction.  Exits 1 when they do not agree.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
sys.path.insert(0, str(HERE))

from harness import quartiles  # noqa: E402


def run_once(workload: str, seed: int, seconds: int) -> tuple[dict, dict]:
    """(result record, the run's host/pass record printed before it)."""
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=REPO, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"run failed (seed {seed}, exit {proc.returncode}):\n{proc.stderr[-2000:]}")
    return json.loads(lines[-1]), json.loads(lines[-2])


def spread(values: list[float]) -> float:
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / med if med else 0.0


def worse_by(first: float, second: float, better: str) -> float:
    """How much worse ``second`` is than ``first``, as a share of ``first``."""
    if not first:
        return 0.0
    delta = (first - second) if better == "higher" else (second - first)
    return delta / first


def compare(bench: dict, a: list[dict], b: list[dict]) -> tuple[bool, list[str]]:
    ok, lines = True, []
    for m in bench["end_to_end"]:
        name, bound = m["name"], m["bound"]
        va = [r["metrics"][name]["value"] for r in a]
        vb = [r["metrics"][name]["value"] for r in b]
        qa, qb = quartiles(va), quartiles(vb)
        sp = spread(va + vb)
        shift = worse_by(qa[1], qb[1], m["better"])
        spread_ok = name == "setup_s" or sp <= bound
        agree = spread_ok and abs(shift) <= bound  # either set may be the worse one
        ok &= agree
        lines.append(
            f"{name:>12} [{m['unit']}]  A median {qa[1]:.4g} (q1 {qa[0]:.4g}, q3 {qa[2]:.4g})"
            f"  B median {qb[1]:.4g} (q1 {qb[0]:.4g}, q3 {qb[2]:.4g})"
            f"  spread {sp:.3f}  B worse by {shift:+.3f}  bound {bound}  {'ok' if agree else 'DISAGREE'}"
        )
    return ok, lines


def main(argv: list[str] | None = None) -> int:
    bench = json.loads((REPO / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--runs", type=int, default=5, help="runs per set")
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--log", help="append every run's record to this JSONL file")
    args = ap.parse_args(argv)

    sets: dict[str, list[dict]] = {"A": [], "B": []}
    for i in range(2 * args.runs):
        side = "AB"[i % 2]
        seed = args.first_seed + i
        rec, info = run_once(args.workload, seed, args.seconds)
        sets[side].append(rec)
        vals = {k: round(v["value"], 4) for k, v in rec["metrics"].items()}
        print(f"run {i + 1} set {side} seed {seed} correct={rec['correct']} {vals}", flush=True)
        if args.log:
            with open(args.log, "a") as f:
                f.write(json.dumps({"workload": args.workload, "set": side, "seed": seed,
                                    **rec, "run": info}) + "\n")
    ok, lines = compare(bench, sets["A"], sets["B"])
    print("\n".join(lines))
    correct = all(r["correct"] for r in sets["A"] + sets["B"])
    print(f"sets agree: {ok}; every run correct: {correct}")
    return 0 if ok and correct else 1


if __name__ == "__main__":
    sys.exit(main())
