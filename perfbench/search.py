"""The ``serve`` workload: a closed loop of HTTP clients against
``service.serve(hot=True)`` in its own process. Each connection sends
its next request only after the previous reply arrived.

The same server process also answers on the Spark tier
(``service.serve(hot=False)`` over the same engine). After the timed
phase the cold first round is sent again to the Spark tier, whose
answers must carry the ids the hot tier gave; a traced run adds a warm
round on both tiers, from which the Spark-tier layers are measured.
"""

from __future__ import annotations

import http.client
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

import corpus
import reference
from common import HERE, WORK, cpus, median, percentile, work_env

MODES = ("whole", "segment", "hybrid", "tags")
SRS_LIMIT_S = 2.0
N_IMAGES, N_IMAGES_TINY = 13_900, 300
# Two connections keep the hot server's interpreter busy; a third only
# queues behind the first two (measured: p50 +40%, no gain in requests
# per second).
CONNECTIONS = 2
# Pre-built request bodies; the run stops at the deadline long before
# it would reach the end of the list.
N_SENDS = 5000
# brute-force checks on every 7th pool entry; 7 is coprime to
# len(corpus.ROUND), so the sample covers every request shape
CHECK_EVERY = 7


def _post(conn, req: dict, rid: str):
    conn.request(
        "POST",
        req["path"],
        body=req["body"],
        headers={"Content-Type": req["ctype"], "X-Request-Id": rid},
    )
    resp = conn.getresponse()
    return resp.status, resp.read()


def _launch_server(data: str, info: str, out: str, trace: int, log):
    cmd = [
        sys.executable,
        os.path.join(HERE, "server.py"),
        "--data", data,
        "--cpus", str(cpus()),
        "--info", info,
        "--out", out,
        "--trace", str(trace),
    ]
    return subprocess.Popen(cmd, stdout=log, stderr=log, env=work_env())


def _stop_server(proc) -> None:
    if proc.poll() is None:
        proc.send_signal(signal.SIGTERM)
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(args, t_start: float, record) -> dict:
    run_dir = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    data = os.path.join(run_dir, "archive")
    os.makedirs(run_dir, exist_ok=True)
    info = os.path.join(run_dir, "server-info.json")
    out = os.path.join(run_dir, "server-out.json")
    log = open(os.path.join(run_dir, "server.log"), "wb")
    proc = _launch_server(data, info, out, args.trace, log)
    try:
        return _drive(args, t_start, record, proc, data, info, out)
    finally:
        _stop_server(proc)
        log.close()
        shutil.rmtree(data, ignore_errors=True)


def _closed_loop(port: int, reqs: list, connections: int, deadline=None, tag="") -> list:
    """Send ``reqs`` in order over ``connections`` connections, each
    waiting for its reply before the next send; stop taking new
    requests at ``deadline``. Returns (position, t0, t1, status, body)
    per request sent."""
    lock = threading.Lock()
    cursor = [0]
    results: list[tuple] = []

    def client():
        c = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
        local = []
        try:
            while deadline is None or time.perf_counter() < deadline:
                with lock:
                    j = cursor[0]
                    cursor[0] += 1
                if j >= len(reqs):
                    break
                t0 = time.perf_counter()
                try:
                    status, body = _post(c, reqs[j], f"{tag}{j}")
                except (OSError, http.client.HTTPException) as e:
                    status, body = None, repr(e).encode()
                    c.close()
                local.append((j, t0, time.perf_counter(), status, body))
        finally:
            c.close()
            with lock:
                results.extend(local)

    threads = [threading.Thread(target=client) for _ in range(connections)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    if deadline is not None and cursor[0] >= len(reqs):
        raise RuntimeError("request list exhausted before the deadline")
    return sorted(results, key=lambda r: r[0])


def _wait_ready(proc, info: str):
    while not os.path.exists(info):
        if proc.poll() is not None:
            raise RuntimeError(f"server exited with {proc.returncode} during set-up")
        time.sleep(0.02)
    with open(info) as f:
        server_info = json.load(f)
    conn = http.client.HTTPConnection("127.0.0.1", server_info["port"], timeout=120)
    try:
        while True:
            try:
                conn.request("GET", "/health")
                r = conn.getresponse()
                r.read()
                if r.status == 200:
                    return server_info
            except OSError:
                conn.close()
            if proc.poll() is not None:
                raise RuntimeError(f"server exited with {proc.returncode} during set-up")
            time.sleep(0.01)
    finally:
        conn.close()


def _drive(args, t_start, record, proc, data, info, out) -> dict:
    seed = args.seed
    t = time.perf_counter()
    archive = corpus.Archive(seed, N_IMAGES_TINY if args.tiny else N_IMAGES)
    archive.write(data)
    open(os.path.join(data, "READY"), "w").close()
    inputs_s = time.perf_counter() - t

    order = corpus.request_order(seed, N_SENDS)
    pool = {i: corpus.make_request(seed, i) for i in sorted(set(order))}
    sends = [pool[i] for i in order]
    # one request of each plan shape, from parts of the pool the timed
    # phase never sends: the cold first round, and the warm round of a
    # traced run
    first_round = [
        corpus.make_request(seed, 10_000_000 + k, slot=slot)
        for k, slot in enumerate(corpus.FIRST_ROUND_SLOTS)
    ]
    warm_round = [
        corpus.make_request(seed, 20_000_000 + k, slot=slot)
        for k, slot in enumerate(corpus.FIRST_ROUND_SLOTS)
    ]

    server_info = _wait_ready(proc, info)
    setup_s = time.perf_counter() - t_start
    boot_s = time.monotonic() - server_info["serve_start"]
    port, spark_port = server_info["port"], server_info["spark_port"]
    record.data["conf"] = server_info["conf"]
    record.data["sizes"] = {
        "images": int(len(archive.image_ids)),
        "segments": int(len(archive.seg_image_ids)),
        "segment_tags": int(len(archive.image_ids)),
        "connections": CONNECTIONS,
    }

    t = time.perf_counter()
    first = _closed_loop(port, first_round, CONNECTIONS, tag="w")
    first_round_s = time.perf_counter() - t
    first_result_s = time.perf_counter() - t_start

    t_phase = time.perf_counter()
    results = _closed_loop(port, sends, CONNECTIONS, t_phase + args.seconds)
    phase_s = time.perf_counter() - t_phase

    # the Spark tier answers the first round cold; traced, both tiers
    # then answer a warm round, one request at a time
    spark_first = _closed_loop(spark_port, first_round, CONNECTIONS, tag="c")
    hot_warm = spark_warm = []
    if args.trace:
        hot_warm = _closed_loop(port, warm_round, 1, tag="h")
        spark_warm = _closed_loop(spark_port, warm_round, 1, tag="s")

    # -- checks -----------------------------------------------------------
    _stop_server(proc)
    with open(out) as f:
        server_out = json.load(f)
    ref = reference.SearchReference(archive)
    failures: list[str] = []
    first_seen: dict[int, bytes] = {}
    checked = 0
    to_check = [
        (reqs[j], f"{where} {j}", status, body)
        for reqs, where, replies in (
            (first_round, "first round", first),
            (first_round, "Spark-tier first round", spark_first),
            (warm_round, "warm round", hot_warm),
            (warm_round, "Spark-tier warm round", spark_warm),
        )
        for j, _, _, status, body in replies
    ]
    for j, _t0, _t1, status, body in results:
        idx = order[j]
        if idx in first_seen:
            # a repeat must get the answer the first send got
            if status == 200 and json.loads(body) != json.loads(first_seen[idx]):
                failures.append(f"request {j}: repeated body answered differently")
            continue
        if status == 200:
            first_seen[idx] = body
        if idx % CHECK_EVERY == 0:
            to_check.append((pool[idx], f"request {j}", status, body))
    for req, where, status, body in to_check:
        if status != 200:
            continue
        problem = _check(ref, req, body, args.corrupt and checked == 0)
        checked += 1
        if problem:
            failures.append(f"{where} {req['path']} ({req['mode']}): {problem}")
    # cross-tier: the Spark tier returns the hot tier's ids
    for hot, spark in ((first, spark_first), (hot_warm, spark_warm)):
        for h, s in zip(hot, spark):
            if h[3] == s[3] == 200 and _ids(h[4]) != _ids(s[4]):
                failures.append(
                    f"request {h[0]}: Spark tier ids {_ids(s[4])} differ from hot tier ids {_ids(h[4])}"
                )

    lat = [(t1 - t0) * 1000 for _, t0, t1, status, _ in results if status == 200]
    replies = first + results + spark_first + hot_warm + spark_warm
    record.data["checked"] = checked
    record.data["phases"] = {
        **server_info["phases"],
        "client_inputs": inputs_s,
        "setup": setup_s,
        "boot": boot_s,
        "first_round": first_round_s,
        "timed": phase_s,
    }
    record.data["failures"] = failures[:20]
    result = {
        "correct": not failures,
        "attempted": len(replies),
        "failed": sum(1 for r in replies if r[3] != 200),
    }
    e2e = {
        "setup_s": (setup_s, "s"),
        "op_p50_ms": (median(lat), "ms"),
        "ops_per_s": (len(lat) / phase_s, "1/s"),
        "rss_peak_mb": (server_out["rss_peak_mb"], "MB"),
        "first_result_s": (first_result_s, "s"),
    }
    if not args.trace:
        result["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        return result
    phases = dict(server_info["phases"], inputs=inputs_s, boot=boot_s, first_round=first_round_s)
    result["layers"] = _layers(sends, results, warm_round, spark_warm, server_out, phases, e2e)
    return result


def _ids(body: bytes) -> list:
    return [r["image_id"] for r in json.loads(body)["results"]]


def _check(ref, req, body, corrupt: bool) -> str | None:
    try:
        resp = json.loads(body)
    except (TypeError, ValueError):
        return "response is not JSON"
    if corrupt and resp.get("results"):
        # smoke mode: a wrong answer must be caught
        resp["results"] = resp["results"][::-1][:-1] + resp["results"][:1]
        resp["results"][0] = dict(resp["results"][0], image_id=-1)
    return reference.check_search(ref, req, resp)


def _layers(sends, results, warm_round, spark_warm, server_out, phases, e2e) -> dict:
    """Per-layer metrics from the server's spans and the client's
    latencies: hot-tier layers from the timed phase, Spark-tier layers
    from the warm round."""
    spans = server_out["spans"]
    by_rid: dict = {}
    for name, s, e, parent, rid in spans:
        by_rid.setdefault(rid, []).append((name, (e - s) * 1000, parent))

    def engine_calls(sp):
        return [
            (n, d) for n, d, p in sp
            if p == "service.request" and (n.startswith("api.") or n == "service.rows_json")
        ]

    def encode(sp, outer_name, inner_name):
        outer = [d for n, d, p in sp if n == outer_name]
        inner = [d for n, d, p in sp if n == inner_name and p == outer_name]
        return [outer[0] - inner[0]] if outer and inner else []

    per_mode_lat = {m: [] for m in MODES}
    transport, hot_encode = [], []
    for j, t0, t1, status, _ in results:
        if status != 200:
            continue
        lat = (t1 - t0) * 1000
        per_mode_lat[sends[j]["mode"]].append(lat)
        sp = by_rid.get(str(j), [])
        transport.append(lat - sum(d for _, d in engine_calls(sp)))
        hot_encode += encode(sp, "api.search_content_rows", "api.search_rows")

    spark_lat = {m: [] for m in MODES}
    construct = {m: [] for m in MODES}
    plan = {m: [] for m in MODES}
    fetch = {m: [] for m in MODES}
    stats = {m: [] for m in MODES}
    spark_encode = []
    for j, t0, t1, status, _ in spark_warm:
        mode = warm_round[j]["mode"]
        spark_lat[mode].append((t1 - t0) * 1000)
        sp = by_rid.get(f"s{j}", [])
        construct[mode] += [d for n, d in engine_calls(sp) if n.startswith("api.")][:1]
        plan[mode] += [d for n, d, p in sp if n == "spark.plan"]
        fetch[mode] += [d for n, d, p in sp if n == "spark.execute_fetch"]
        spark_encode += encode(sp, "api.search_content", "api.search")
        if f"s{j}" in server_out["job_stats"]:
            stats[mode].append(server_out["job_stats"][f"s{j}"])

    def hot_span_median(name):
        # spans of the timed phase only (request ids are plain numbers)
        return median([(e - s) * 1000 for n, s, e, _p, rid in spans if n == name and rid and rid.isdigit()])

    layers = {
        "setup.session_s": (phases["session"], "s"),
        "setup.inputs_s": (phases["inputs"], "s"),
        "setup.boot_s": (phases["boot"], "s"),
        "setup.hot_build_s": (phases["hot_build"], "s"),
        "first_round_s": (phases["first_round"], "s"),
        "service.transport_ms": (median(transport), "ms"),
        "service.parse_ms": (hot_span_median("service.parse"), "ms"),
        "service.cache_hits": (server_out["counts"].get("service.cache_hits", 0), "count"),
        "service.cache_lookups": (server_out["counts"].get("service.cache_lookups", 0), "count"),
        "api.encode_ms": (median(hot_encode), "ms"),
        "api.spark_encode_ms": (median(spark_encode), "ms"),
        "req_p99_ms": (percentile([v for vs in per_mode_lat.values() for v in vs], 99), "ms"),
        "spark.over_2s": (
            sum(1 for vs in spark_lat.values() for v in vs if v > SRS_LIMIT_S * 1000), "count"),
        "caching.unpersist_errors": (server_out["unpersist_errors"], "count"),
    }
    for m in ("whole", "segment", "hybrid", "tags", "tag_allowed"):
        layers[f"serving.{m}_ms"] = (hot_span_median(f"serving.{m}"), "ms")
    for m in MODES:
        layers[f"req_p50_ms.{m}"] = (median(per_mode_lat[m]), "ms")
        layers[f"spark.req_ms.{m}"] = (median(spark_lat[m]), "ms")
        layers[f"retrieval.construct_ms.{m}"] = (median(construct[m]), "ms")
        layers[f"retrieval.plan_ms.{m}"] = (median(plan[m]), "ms")
        layers[f"retrieval.execute_fetch_ms.{m}"] = (median(fetch[m]), "ms")
        for key in ("jobs", "stages", "tasks"):
            layers[f"spark.{key}.{m}"] = (median([s[key] for s in stats[m]]), "count")
    for k, (v, u) in e2e.items():
        layers[f"traced.{k}"] = (v, u)
    return layers
