#!/usr/bin/env python
"""Per-query Spark/DuckDB ratios at the x10 synth corpus — the
empirical replacement for the "floor class" narrative.

At sf0.1 the ~40-100 ms scheduler/exchange floor makes per-query
ratios unmeasurable for every sub-160 ms query: the floor-adjusted
ratio of a 90 ms query against a 3 ms oracle says nothing about the
plan. This tool re-measures EVERY oracled query the synth corpus can
cover (derived from oracle SQL table refs, same rule as
tools/scale_check.py) at 10× the sf0.1 rows, where real work
dominates the fixed overhead, and emits per-query Spark seconds,
DuckDB-oracle seconds, and both raw and floor-adjusted ratios.

The protocol is bench.py's own (``bench.prepare``,
``bench.measure_query``, ``bench.noise_guard``, ``bench.oracle_seconds``),
so the x10 ratios read on the same scale as the sf0.1 headline ratios.

Writes BENCH_x10_r{N}.json at the repo root (full per-query detail —
this artifact is committed, not driver-parsed) and prints a compact
totals line.

Usage: python tools/bench_x10.py [--round N] [--mult 10]
"""

from __future__ import annotations

import json
import statistics
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))
sys.path.insert(0, str(REPO / "tools"))

# Queries whose Spark side performs PHYSICAL side effects inside the
# timed region — parquet/ORC/CSV writes, managed-table saves, or
# availableNow stream drains (derived by grepping query bodies for
# _scratch_dir / .write. / writeStream / _drain_or_fail). Their DuckDB
# twins aggregate straight off the source table, so the comparison is
# structurally asymmetric BY DESIGN (the queries certify write→read
# roundtrips); the artifact reports them in their own bin instead of
# pretending the ratio measures plan quality.
WRITE_PRICED = {
    "events_retention_stream", "dedup_minhash_stream", "percolate_stream",
    "percolate_join_stream", "ann_ingest_assign", "ann_ingest_pq",
    "ann_recenter_compact", "events_sessionize_stream",
    "etl_csv_roundtrip", "etl_partitioned_roundtrip",
    "etl_bucketed_roundtrip", "etl_json_feature_roundtrip",
    "etl_compact_roundtrip", "etl_orc_roundtrip", "etl_sorted_export",
    "etl_zorder_roundtrip", "ml_image_dir_scan",
    "events_interval_join_stream",
}

# Queries whose timed region is dominated by DRIVER-SIDE RESULT
# MATERIALIZATION, not plan execution: the protocol collect()s the full
# result on both engines, and above ~100k rows the fixed per-row client
# cost dominates — PySpark's pickle path runs ~3 ns/row-field slower
# than DuckDB's C-level fetchall, so the ratio prices the Python client
# constant, not the plan. Classified by measured result cardinality
# (rows_out >= FETCH_ROWS); tools/profile_queries.py --mult 10 gives
# the layer split (e.g. ml_segment_portable at x10: 0.06 s to execute
# + 0.85 s to pickle 272k rows).
FETCH_ROWS = 100_000


def main() -> int:
    import scale_check
    from bench import (
        CPUS,
        measure_floor,
        measure_query,
        noise_guard,
        oracle_connection,
        oracle_seconds,
        prepare,
        trailing_artifacts,
    )
    from data_feature_extraction_and_retrieval_pipeline_spark import (
        caching,
        indexes,
        queries as Q,
    )

    argv = sys.argv[1:]
    rnd = 10
    mult = 10
    names_filter = None
    for i, a in enumerate(argv):
        if a == "--round" and i + 1 < len(argv):
            rnd = int(argv[i + 1])
        elif a.startswith("--round="):
            rnd = int(a.split("=", 1)[1])
        elif a == "--mult" and i + 1 < len(argv):
            mult = int(argv[i + 1])
        elif a.startswith("--mult="):
            mult = int(a.split("=", 1)[1])
        elif a == "--queries" and i + 1 < len(argv):
            names_filter = set(argv[i + 1].split(","))
        elif a.startswith("--queries="):
            names_filter = set(a.split("=", 1)[1].split(","))

    spark, sf_dir, tables = prepare("dferp-spark-bench-x10", mult)
    names = scale_check.coverable_queries(set(tables))
    if names_filter is not None:
        names = [n for n in names if n in names_filter]
    print(
        f"x{mult} corpus at {sf_dir} (tables: {tables}); "
        f"{len(names)} oracled queries",
        file=sys.stderr,
        flush=True,
    )

    qs = Q.queries()
    oracles = Q.oracle_sql()

    timings: dict[str, float] = {}
    exec_only: dict[str, float] = {}
    rows_out: dict[str, int] = {}
    for name in names:
        rec, df = measure_query(spark, qs[name], sf_dir, name)
        timings[name] = rec["seconds"]
        rows_out[name] = rec["rows_out"]
        # Execution-only: re-collect the warm run's DataFrame. CAVEAT —
        # this is NOT "execution minus planning": a local-mode
        # re-collect SKIPS every shuffle map stage whose outputs are
        # still in the MapOutputTracker, re-running only the result
        # stage. Catalyst planning is ~30 ms/query, so timings -
        # exec_only ≈ the skipped stages' EXECUTION, not analysis. Read
        # exec_only as "result stage + fetch" — a deep lower bound;
        # tools/profile_queries.py --mult N gives the real layer split.
        for _ in range(2):
            t0 = time.perf_counter()
            df.collect()
            dt = round(time.perf_counter() - t0, 3)
            if name not in exec_only or dt < exec_only[name]:
                exec_only[name] = dt
        caching.release(name)
        print(
            f"spark {name}: {timings[name]:.3f}s "
            f"(exec-only {exec_only[name]:.3f}s)",
            file=sys.stderr,
            flush=True,
        )

    # the floor is ~constant in data volume, so at x10 it adjusts far
    # less of each number
    floor = measure_floor(spark)
    con = oracle_connection(sf_dir, tables)
    oracle_timings: dict[str, float] = {}
    for name in names:
        oracle_timings[name] = round(oracle_seconds(con, oracles[name]), 4)
        print(
            f"duckdb {name}: {oracle_timings[name]:.4f}s",
            file=sys.stderr,
            flush=True,
        )
    oracle_total = round(sum(oracle_timings.values()), 3)

    # Guard history: prior x10 artifacts at this run's (mult, cpus),
    # excluding the current round's own artifact so a re-run never
    # dampens its own detection (ADVICE r12).
    history = trailing_artifacts(
        "BENCH_x10_r*.json",
        exclude=f"BENCH_x10_r{rnd:02d}.json",
        mult=mult,
        cpus=int(CPUS),
    )
    guard = noise_guard(
        history, floor, lambda: measure_floor(spark), oracle_total, timings
    )
    floor = guard["job_floor_s"]

    ratio = {
        n: (round(timings[n] / o, 2) if o > 0 else None)
        for n, o in oracle_timings.items()
    }
    floor_adj = {
        n: (round(max(timings[n] - floor, 0.0) / o, 2) if o > 0 else None)
        for n, o in oracle_timings.items()
    }
    # The done-bar population: queries whose oracle is big enough to
    # measure against (>= 0.1 s at x10); write-priced queries get their
    # own bin — their Spark side does physical I/O the oracle doesn't,
    # so the ratio prices the write, not the plan.
    # Denominator-robust bin membership: each query's oracle seconds
    # pinned to the median of (prior CLEAN artifacts + this run), so one
    # contended DuckDB pass can't churn the list (VERDICT r13 'What's
    # wrong #3'; `ratio`/`floor_adj_ratio` stay on this run's
    # denominator — the pinned value only decides the bins).
    trailing_oracle_q: dict[str, list[float]] = {}
    for d in history:
        oq = d.get("oracle_queries")
        if (
            isinstance(d.get("oracle_total"), (int, float))
            and not d.get("noisy_run")
            and isinstance(oq, dict)
        ):
            for n, val in oq.items():
                if isinstance(val, (int, float)):
                    trailing_oracle_q.setdefault(n, []).append(float(val))
    oracle_pinned = {
        n: statistics.median(trailing_oracle_q.get(n, []) + [o])
        for n, o in oracle_timings.items()
    }
    measurable = {n for n, o in oracle_pinned.items() if o >= 0.1}
    over = {
        n for n in measurable
        if oracle_pinned[n] > 0
        and max(timings[n] - floor, 0.0) / oracle_pinned[n] > 2
    }
    fetch_priced = {n for n in over if rows_out.get(n, 0) >= FETCH_ROWS}
    over_bar = sorted(over - WRITE_PRICED - fetch_priced)
    over_write = sorted(over & WRITE_PRICED)
    over_fetch = sorted(fetch_priced - WRITE_PRICED)

    out = {
        "metric": f"x{mult}_oracled_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "n_queries": len(timings),
        "oracle_total": oracle_total,
        "ratio_total": round(
            sum(timings.values()) / sum(oracle_timings.values()), 3
        ),
        **guard,
        "job_floor_s": round(floor, 4),
        "n_measurable": len(measurable),
        "over_2x_measurable": over_bar,
        "over_2x_write_priced": over_write,
        "over_2x_fetch_priced": over_fetch,
        "rows_out": dict(sorted(rows_out.items())),
        "queries": dict(sorted(timings.items())),
        "exec_only": dict(sorted(exec_only.items())),
        "oracle_queries": dict(sorted(oracle_timings.items())),
        "oracle_pinned": dict(
            sorted((n, round(v, 4)) for n, v in oracle_pinned.items())
        ),
        "cpus": int(CPUS),
        "ratio": dict(sorted(ratio.items())),
        "floor_adj_ratio": dict(sorted(floor_adj.items())),
        "index_build_s": dict(sorted(indexes.BUILD_SECONDS.items())),
        "mult": mult,
        "sf_dir": sf_dir,
    }
    # A --queries-filtered run is an iteration probe — never let it
    # clobber the committed full-sweep artifact
    suffix = "" if names_filter is None else ".partial"
    path = REPO / f"BENCH_x10_r{rnd:02d}.json{suffix}"
    with open(path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    compact = {
        k: out[k]
        for k in (
            "metric", "value", "unit", "n_queries", "oracle_total",
            "ratio_total", "job_floor_s", "noisy_run", "n_measurable",
            "over_2x_measurable", "over_2x_write_priced",
            "over_2x_fetch_priced",
        )
    }
    print(json.dumps(compact, separators=(",", ":")))
    print(f"wrote {path}", file=sys.stderr)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
