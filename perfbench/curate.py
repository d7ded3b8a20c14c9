"""The ``curate`` workload: passes of two batch jobs over a generated
``documents`` table, each job built fresh from the query registry and
collected — the 8-stage ``CurationPipeline`` chain
(``api_pipeline_curate``) and exact 3-gram Jaccard near-dup clustering
(``dedup_cluster_canonical``)."""

from __future__ import annotations

import importlib
import os
import shutil
import time

import pyarrow.parquet as pq

import corpus
import reference
from common import PROGRAM, WORK, cpus, median, peak_rss_mb, spark_conf, stop_spark
from tracing import job_group_stats

JOBS = (("curate", "api_pipeline_curate"), ("near_dup", "dedup_cluster_canonical"))
N_DOCS = 3000
N_DOCS_TINY = 300


def run(args, t_start: float, record) -> dict:
    n_docs = N_DOCS_TINY if args.tiny else N_DOCS
    data = os.path.join(WORK, f"curate-{args.seed}-{os.getpid()}")
    t = time.perf_counter()
    corpus.write_documents(args.seed, n_docs, data)
    inputs_s = time.perf_counter() - t

    t = time.perf_counter()
    pkg = importlib.import_module(PROGRAM)
    spark = pkg.get_spark(cpus=cpus())
    session_s = time.perf_counter() - t
    try:
        return _drive(args, t_start, record, spark, data, n_docs, inputs_s, session_s)
    finally:
        stop_spark(spark)
        shutil.rmtree(data, ignore_errors=True)


def _job(spark, registry, name: str, data: str, group: str | None) -> dict:
    api = importlib.import_module(f"{PROGRAM}.api")
    caching = importlib.import_module(f"{PROGRAM}.caching")
    if group is not None:
        spark.sparkContext.setJobGroup(group, group)
    ckpt = sum(api.CHECKPOINT_SECONDS.values())
    t0 = time.perf_counter()
    df = registry[name](spark, data)
    t1 = time.perf_counter()
    df._jdf.queryExecution().executedPlan()
    t2 = time.perf_counter()
    rows = [tuple(r) for r in df.collect()]
    t3 = time.perf_counter()
    caching.release()
    return {
        "construct": t1 - t0,
        "checkpoint": sum(api.CHECKPOINT_SECONDS.values()) - ckpt,
        "plan": t2 - t1,
        "execute_fetch": t3 - t2,
        "wall": t3 - t0,
        "rows": sorted(rows),
        "group": group,
    }


def _pass(spark, registry, data, tag: str, traced: bool) -> dict:
    t = time.perf_counter()
    jobs = {
        key: _job(spark, registry, name, data, f"{tag}-{key}" if traced else None)
        for key, name in JOBS
    }
    jobs["wall"] = time.perf_counter() - t
    return jobs


def _drive(args, t_start, record, spark, data, n_docs, inputs_s, session_s) -> dict:
    queries = importlib.import_module(f"{PROGRAM}.queries")
    registry = queries.queries()
    setup_s = time.perf_counter() - t_start
    record.data["conf"] = spark_conf(spark)
    record.data["sizes"] = {"documents": n_docs}

    # The timed phase starts with the cold pass, as a batch job in a
    # fresh process does; passes repeat while time is left.
    passes = []
    t_phase = time.perf_counter()
    while not passes or time.perf_counter() - t_phase < args.seconds:
        passes.append(_pass(spark, registry, data, f"p{len(passes)}", args.trace))
        if len(passes) == 1:
            first_result_s = time.perf_counter() - t_start
    phase_s = time.perf_counter() - t_phase
    rss = peak_rss_mb()
    first = passes[0]

    failures = []
    attempted = 2 * len(passes)
    for key, _ in JOBS:
        for p in passes[1:]:
            if p[key]["rows"] != first[key]["rows"]:
                failures.append(f"{key}: a later pass returned other rows than the first")
    if args.corrupt:
        first["curate"]["rows"][0] = (-1,) + first["curate"]["rows"][0][1:]
    oracles = queries.oracle_sql()
    docs_path = os.path.join(data, "documents.parquet")
    table = pq.read_table(docs_path, columns=["doc_id", "text"]).to_pydict()
    docs = dict(zip(table["doc_id"], table["text"]))
    edge_nodes = None
    for key, name in JOBS:
        want, nodes = reference.duckdb_replay(oracles[name], docs_path)
        edge_nodes = nodes if nodes is not None else edge_nodes
        if sorted(want) != first[key]["rows"]:
            failures.append(f"{key}: rows differ from the DuckDB replay of {name}")
    problem = reference.curate_properties(docs, first["curate"]["rows"])
    if problem:
        failures.append(f"curate: {problem}")
    problem = reference.near_dup_properties(
        first["near_dup"]["rows"], edge_nodes, reference.fixture_ids(docs)
    )
    if problem:
        failures.append(f"near_dup: {problem}")

    record.data["phases"] = {
        "session": session_s,
        "inputs": inputs_s,
        "setup": setup_s,
        "timed": phase_s,
        "passes": [
            {k: {m: p[k][m] for m in ("construct", "checkpoint", "plan", "execute_fetch")} for k, _ in JOBS}
            for p in passes
        ],
    }
    record.data["failures"] = failures[:20]
    result = {"correct": not failures, "attempted": attempted, "failed": 0}
    e2e = {
        "setup_s": (setup_s, "s"),
        "op_p50_ms": (median([p["wall"] for p in passes]) * 1000, "ms"),
        "ops_per_s": (len(passes) / phase_s, "1/s"),
        "rss_peak_mb": (rss, "MB"),
        "first_result_s": (first_result_s, "s"),
    }
    if not args.trace:
        result["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        return result

    caching = importlib.import_module(f"{PROGRAM}.caching")
    layers = {
        "setup.session_s": (session_s, "s"),
        "setup.inputs_s": (inputs_s, "s"),
        "setup.boot_s": (0.0, "s"),
        "setup.hot_build_s": (0.0, "s"),
        "first_round_s": (first["wall"], "s"),
        "caching.unpersist_errors": (int(caching.UNPERSIST_ERRORS["count"]), "count"),
    }
    for key, prefix in (("curate", "curation"), ("near_dup", "dedup")):
        for m in ("construct", "plan", "execute_fetch"):
            layers[f"{prefix}.{m}_s"] = (median([p[key][m] for p in passes]), "s")
        stats = [job_group_stats(spark, p[key]["group"]) for p in passes]
        for m in ("jobs", "stages", "tasks"):
            layers[f"spark.{m}.{key}"] = (median([s[m] for s in stats]), "count")
        layers[f"spark.shuffle_write_mb.{key}"] = (
            median([s["shuffle_write"] for s in stats]) / 2**20, "MB")
        layers[f"spark.spill_mb.{key}"] = (median([s["spill"] for s in stats]) / 2**20, "MB")
        layers[f"rows_out.{key}"] = (len(first[key]["rows"]), "count")
    layers["curation.checkpoint_s"] = (median([p["curate"]["checkpoint"] for p in passes]), "s")
    for k, (v, u) in e2e.items():
        layers[f"traced.{k}"] = (v, u)
    result["layers"] = layers
    return result
