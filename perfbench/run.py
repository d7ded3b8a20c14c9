"""Benchmark entry point.

    python3 perfbench/run.py --workload {serve,curate} \
        --seed N --seconds S --trace {0,1} [--tiny] [--corrupt]

Builds its inputs from the seed, measures for ``--seconds``, checks the
program's answers and prints one JSON object as the last line of
standard output: the end-to-end metrics of BENCHMARK.json untraced, the
per-layer metrics traced. ``--tiny`` shrinks every input for a smoke
run; ``--corrupt`` damages one answer before the checks, which must
then report ``"correct": false``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

from common import ROOT, RunRecord, use_work_env  # noqa: E402

WORKLOADS = ("serve", "curate")


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true")
    ap.add_argument("--corrupt", action="store_true")
    args = ap.parse_args(argv)
    if args.seconds <= 0:
        ap.error("--seconds must be positive")

    # a terminated run still stops its server and Spark session
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    bench = spec()
    use_work_env()
    record = RunRecord(args)
    if args.workload == "curate":
        import curate as workload
    else:
        import search as workload
    result = workload.run(args, T_START, record)

    if args.trace:
        layers = result.pop("layers")
        metrics = {}
        for m in bench["per_layer"]:
            value, unit = layers.get(m["name"], (0, m["unit"]))
            if unit != m["unit"]:
                raise RuntimeError(f"{m['name']}: unit {unit} != {m['unit']}")
            metrics[m["name"]] = {"value": value, "unit": unit}
        unknown = set(layers) - set(metrics)
        if unknown:
            raise RuntimeError(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
        result["metrics"] = metrics
    else:
        names = [m["name"] for m in bench["end_to_end"]]
        if sorted(names) != sorted(result["metrics"]):
            raise RuntimeError("end-to-end metrics do not match BENCHMARK.json")
    record.data["wall_s"] = time.perf_counter() - T_START
    record.finish(result)
    for line in record.data.get("failures", []):
        print(f"check failed: {line}", file=sys.stderr)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
