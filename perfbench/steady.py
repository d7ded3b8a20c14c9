"""Steadiness check: runs two interleaved sets of every workload, each
run with its own seed, and prints per end-to-end metric the median,
the quartiles and the spread (interquartile range over the median)
against the metric's bound, and how far the second set's median moved
from the first's.

    python3 perfbench/steady.py [--runs 10] [--sets 2] [--workloads serve,curate]

``--smoke`` instead runs every workload once at tiny size, then again
with one answer corrupted, and fails unless the checks pass on the
first and catch the second.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import subprocess
import sys

from common import ROOT

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def run_once(workload: str, seed: int, seconds, trace: int = 0, extra=()) -> dict:
    cmd = [
        sys.executable, RUN, "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", str(trace), *extra,
    ]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)
    try:
        out, _ = proc.communicate(timeout=900)
    finally:
        # interrupted: let the run stop its own server and session
        if proc.poll() is None:
            proc.terminate()
            proc.wait()
    if proc.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd)} exited with {proc.returncode}")
    return json.loads(out.decode().strip().splitlines()[-1])


def spread(values) -> tuple[float, float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0], 0.0
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med


def smoke() -> int:
    ok = True
    for w in ("serve", "curate"):
        good = run_once(w, 1, 2, extra=("--tiny",))
        bad = run_once(w, 1, 2, extra=("--tiny", "--corrupt"))
        passed = good["correct"] and not bad["correct"]
        ok &= passed
        print(f"{w}: clean run correct={good['correct']}, corrupted run correct={bad['correct']}"
              f" -> {'ok' if passed else 'FAIL'}")
    return 0 if ok else 1


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, choices=(1, 2), default=2)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.smoke:
        return smoke()

    workloads = args.workloads.split(",")
    results = {(w, s): [] for w in workloads for s in range(args.sets)}
    for i in range(args.runs):
        for s in range(args.sets):
            for w in workloads:
                seed = 1 + 1000 * s + i
                r = run_once(w, seed, bench["run_seconds"])
                results[(w, s)].append(r)
                print(f"# {w} set {s} seed {seed}: correct={r['correct']} attempted={r['attempted']} "
                      f"failed={r['failed']} " + " ".join(
                          f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()), flush=True)

    ok = True
    for w in workloads:
        print(f"\n{w}")
        shares = [sum(r["failed"] for r in results[(w, s)]) / sum(r["attempted"] for r in results[(w, s)])
                  for s in range(args.sets)]
        print(f"  failed share per set: {shares}; all correct: "
              f"{all(r['correct'] for s in range(args.sets) for r in results[(w, s)])}")
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            meds = []
            for s in range(args.sets):
                vals = [r["metrics"][name]["value"] for r in results[(w, s)]]
                med, q1, q3, sp = spread(vals)
                meds.append(med)
                flag = "" if sp <= bound / 3 else ("  > bound/3" if sp <= bound else "  > BOUND")
                ok &= sp <= bound
                print(f"  {name:14s} set {s}: median {med:.5g} q1 {q1:.5g} q3 {q3:.5g} "
                      f"spread {sp:.3f} (bound {bound}){flag}")
            if args.sets == 2:
                worse = (meds[1] - meds[0]) / meds[0]
                if m["better"] == "higher":
                    worse = -worse
                ok &= worse <= bound
                print(f"  {name:14s} second median worse by {worse:+.3f} (bound {bound})")
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
