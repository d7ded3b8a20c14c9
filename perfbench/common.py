"""Paths, environment, the run record and small statistics shared by the
workloads."""

from __future__ import annotations

import ctypes
import glob
import json
import os
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# everything a run writes stays under the checkout
WORK = os.path.join(ROOT, ".perfbench_work")

if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

PROGRAM = "data_feature_extraction_and_retrieval_pipeline_spark"


def work_env() -> dict:
    """Process environment that keeps Spark's and the JVM's scratch
    files inside the checkout. These are deployment paths, not engine
    settings: the session is built by the program's ``get_spark``."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = tmp
    env["TMPDIR"] = tmp
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return env


def use_work_env() -> None:
    os.environ.update(work_env())


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def peak_rss_mb(pid: str | int = "self") -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM in /proc status")


def blas_threads() -> int | None:
    """Thread count of the BLAS numpy is linked against (OpenBLAS)."""
    base = os.path.dirname(np.__file__)
    for lib in glob.glob(os.path.join(base, "..", "numpy.libs", "libopenblas*")):
        try:
            handle = ctypes.CDLL(lib)
        except OSError:
            continue
        for sym in ("openblas_get_num_threads64_", "openblas_get_num_threads"):
            fn = getattr(handle, sym, None)
            if fn is not None:
                fn.restype = ctypes.c_int
                return int(fn())
    return None


def spark_conf(spark) -> dict:
    conf = spark.conf
    return {
        "master": spark.sparkContext.master,
        "spark.sql.adaptive.enabled": conf.get("spark.sql.adaptive.enabled"),
        "spark.sql.shuffle.partitions": conf.get("spark.sql.shuffle.partitions"),
        "spark.driver.memory": spark.sparkContext.getConf().get(
            "spark.driver.memory", None
        ),
    }


def median(xs) -> float:
    return float(np.median(xs)) if len(xs) else 0.0


def percentile(xs, q) -> float:
    return float(np.percentile(xs, q)) if len(xs) else 0.0


class RunRecord:
    """What a run measured under: written next to the results so runs
    from different machines or core counts are not compared."""

    def __init__(self, args):
        self.data = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "tiny": bool(getattr(args, "tiny", False)),
            "cpus": cpus(),
            "loadavg_start": os.getloadavg(),
            "started": time.time(),
            "blas_threads": blas_threads(),
        }

    def finish(self, result: dict) -> str:
        self.data["loadavg_end"] = os.getloadavg()
        self.data["result"] = result
        out = os.path.join(WORK, "records")
        os.makedirs(out, exist_ok=True)
        path = os.path.join(
            out,
            f"{self.data['workload']}-seed{self.data['seed']}-"
            f"trace{self.data['trace']}-{int(self.data['started'] * 1000)}.json",
        )
        with open(path, "w") as f:
            json.dump(self.data, f, indent=1, default=str)
        return path
