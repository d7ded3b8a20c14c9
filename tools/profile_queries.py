#!/usr/bin/env python
"""Per-query layer profile under the bench protocol.

Runs ``bench.measure_query`` on each named query after the bench's
resident warm-up and prints one JSON record per query: the min of 3
timed runs, the last run's job count, rows out, and the untimed warm
run split into construct, analyze, optimize, physical plan and
execute+fetch seconds with its jobs, stages and tasks. Every run
builds a fresh plan, and the warm run is the query's first call here,
so its construct also holds first-use index builds.

Covers the sf0.1 fixture at $SPARK_GRAFT_SF_DIR with the bench.py
session, or the x-N synth fixture with the bench_x10.py session.
Writes no artifact.

Usage: python tools/profile_queries.py NAME[,NAME...] [--mult N]
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> int:
    argv = sys.argv[1:]
    mult = None
    names: list[str] = []
    for i, a in enumerate(argv):
        if a == "--mult" and i + 1 < len(argv):
            mult = int(argv[i + 1])
        elif a.startswith("--mult="):
            mult = int(a.split("=", 1)[1])
        elif not a.startswith("-") and (i == 0 or argv[i - 1] != "--mult"):
            names += [n for n in a.split(",") if n]
    if not names:
        print(__doc__, file=sys.stderr)
        return 2

    from bench import measure_query, prepare
    from data_feature_extraction_and_retrieval_pipeline_spark import queries as Q

    spark, sf_dir, _ = prepare("dferp-profile-queries", mult)
    qs = Q.queries()
    for name in dict.fromkeys(names):
        rec, _ = measure_query(spark, qs[name], sf_dir, name)
        print(json.dumps({"query": name, **rec}), flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
