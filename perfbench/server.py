"""Server launcher for the ``serve`` workload: starts a Spark session
with the program's ``get_spark``, binds an ``Engine`` to the archive
tables, builds the hot tier and runs ``service.serve`` on it, plus a
Spark-tier ``service.serve(hot=False)`` over the same engine, until
SIGTERM. Reports its set-up phases on start and its peak RSS (and,
traced, its spans and Spark job counts) on exit.

    python3 perfbench/server.py --data DIR --cpus 4 --info F --out F [--trace 1]
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import threading
import time

from common import PROGRAM, peak_rss_mb, spark_conf, stop_spark
from tracing import Tracer, job_group_stats


def install(tracer: Tracer, spark, job_groups: list) -> None:
    """Spans around the public calls of service, api, serving and the
    Spark-tier fetch; cache lookups counted at the response cache."""
    import importlib

    from pyspark.sql.classic.dataframe import DataFrame

    service = importlib.import_module(f"{PROGRAM}.service")
    api = importlib.import_module(f"{PROGRAM}.api")
    serving = importlib.import_module(f"{PROGRAM}.serving")

    handler = service._Handler
    orig_post = handler.do_POST
    sc = spark.sparkContext

    def do_post(self):
        rid = self.headers.get("X-Request-Id")
        tracer.rid = rid
        if not type(self).hot:
            group = f"req-{rid}"
            sc.setJobGroup(group, group)
            job_groups.append((rid, group))
        try:
            tracer.call("service.request", orig_post, self)
        finally:
            tracer.rid = None

    handler.do_POST = do_post

    cache = service._ResponseCache
    orig_get = cache.get

    def cache_get(self, key):
        hit = orig_get(self, key)
        tracer.count("service.cache_lookups")
        if hit is not None:
            tracer.count("service.cache_hits")
        return hit

    cache.get = cache_get
    tracer.wrap(service, "_parse_multipart", "service.parse")
    tracer.wrap(service, "_rows_json", "service.rows_json")
    for name in ("search_content_rows", "search_rows", "search_content", "search"):
        tracer.wrap(api.Engine, name, f"api.{name}")
    tracer.wrap(api.Engine, "hot", "api.hot")
    for name in ("whole", "segment", "hybrid", "tags", "tag_allowed"):
        tracer.wrap(serving.HotSearchIndex, name, f"serving.{name}")

    orig_collect = DataFrame.collect

    def collect(self):
        stack = tracer.stack()
        if stack and stack[-1] == "service.rows_json":
            # the Dataset keeps its QueryExecution, so the collect below
            # reuses the plan forced here
            tracer.call(
                "spark.plan", lambda: self._jdf.queryExecution().executedPlan()
            )
            return tracer.call("spark.execute_fetch", orig_collect, self)
        return tracer.call("spark.collect", orig_collect, self)

    DataFrame.collect = collect


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--data", required=True)
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--info", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()

    stop = threading.Event()
    signal.signal(signal.SIGTERM, lambda *_: stop.set())

    phases = {}
    t = time.perf_counter()
    import importlib

    pkg = importlib.import_module(PROGRAM)
    service = importlib.import_module(f"{PROGRAM}.service")
    sources = importlib.import_module(f"{PROGRAM}.sources")
    spark = pkg.get_spark(cpus=args.cpus)
    phases["session"] = time.perf_counter() - t

    tracer = Tracer() if args.trace else None
    job_groups: list = []
    if tracer is not None:
        install(tracer, spark, job_groups)

    t = time.perf_counter()
    ready = os.path.join(args.data, "READY")
    while not os.path.exists(ready):
        if stop.wait(0.02):
            stop_spark(spark)
            return 1
    phases["wait_inputs"] = time.perf_counter() - t

    t = time.perf_counter()
    engine = pkg.Engine(
        sources.load_table(spark, args.data, "images"),
        segments=sources.load_table(spark, args.data, "segments"),
        segment_tags=sources.load_table(spark, args.data, "segment_tags"),
    )
    phases["bind"] = time.perf_counter() - t
    t = time.perf_counter()
    engine.hot()
    phases["hot_build"] = time.perf_counter() - t
    serve_start = time.monotonic()
    server = service.serve(engine, hot=True)
    spark_server = service.serve(engine, hot=False)

    tmp = args.info + ".tmp"
    with open(tmp, "w") as f:
        json.dump(
            {
                "port": server.server_address[1],
                "spark_port": spark_server.server_address[1],
                "phases": phases,
                "serve_start": serve_start,
                "conf": spark_conf(spark),
            },
            f,
        )
    os.replace(tmp, args.info)

    stop.wait()
    for s in (server, spark_server):
        s.shutdown()
        s.server_close()
    out = {"rss_peak_mb": peak_rss_mb()}
    if tracer is not None:
        out["job_stats"] = {
            rid: job_group_stats(spark, group) for rid, group in job_groups
        }
        out["counts"] = dict(tracer.counts)
        out["spans"] = [list(s) for s in tracer.spans]
    unpersist = importlib.import_module(f"{PROGRAM}.caching").UNPERSIST_ERRORS
    out["unpersist_errors"] = int(unpersist["count"])
    with open(args.out + ".tmp", "w") as f:
        json.dump(out, f)
    os.replace(args.out + ".tmp", args.out)
    stop_spark(spark)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
