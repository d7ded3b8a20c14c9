"""SparkSession factory.

Defaults are chosen for correctness on local[N] AND sanity at cluster
scale: AQE handles runtime coalescing/skew, Arrow accelerates the
pandas-UDF boundary, and the session timezone is pinned to UTC so date
arithmetic is deterministic regardless of host timezone (the DuckDB
oracle operates on naive timestamps).
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import SparkSession

# spark.shuffle.sort.bypassMergeThreshold: 0 forces the sort-based
# shuffle writer at every reduce count (see get_spark)
_BYPASS_THRESHOLD = "0"


def get_spark(
    app_name: str = "dferp-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    On a real cluster the ``master`` is supplied externally
    (spark-submit); here we default to ``local[$SPARK_GRAFT_CPUS]``.
    ``spark.sql.shuffle.partitions`` is only the pre-AQE upper bound —
    AQE coalesces at runtime, so a generous value is safe both at
    sf0.001 and at 100 TB (where the cluster overrides it anyway).
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cpus) * 2, 32)

    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # pandas-written parquet may carry TIMESTAMP(NANOS) which Spark
        # has no native type for; read as long and convert at the reader
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # pandas naive datetime64[us] is TIMESTAMP(isAdjustedToUTC=false);
        # read it as LTZ (session is UTC, so values are identical) to keep
        # one timestamp type engine-wide
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # AQE re-renders the executed plan's explain string on every
        # runtime re-plan; for deeply composed plans (the curation
        # facade chain) an unbounded string is a driver-heap hazard —
        # 8 MB keeps every plan assertion readable while bounding the
        # render. (The real fix for composed iterative stages is
        # lineage truncation at the operator, see
        # CurationPipeline.dedup_near; this is defense in depth.)
        .config("spark.sql.maxPlanStringLength", str(8 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        # Shuffle writer: force the sort-based writer at every reduce
        # count (default bypassMergeThreshold=200 switches to the
        # bypass-merge writer below 200 partitions, which opens one
        # file PER REDUCE PARTITION PER MAP TASK — a 96-map × 32-reduce
        # exchange creates 3072 files to move a few MB; measured 3×
        # wall on such exchanges: 0.415 s → 0.134 s for a 6k-row
        # repartition, r13). The sort-based writer emits one file per
        # map task at any reduce count and only sorts by partition id,
        # and it is already what every >200-partition cluster shuffle
        # uses — so this is scale-neutral, not a local tune.
        .config("spark.shuffle.sort.bypassMergeThreshold", _BYPASS_THRESHOLD)
    )
    active = SparkSession.getActiveSession()
    if active is None:
        builder = builder.master(f"local[{cpus}]")
    else:
        # getOrCreate() attaches to the running session and every
        # builder conf above is silently ignored — in particular the
        # shuffle-writer threshold is a STATIC core conf that cannot
        # change after SparkContext start, so a session started
        # elsewhere keeps its own writer. Surface the mismatch instead
        # of hiding it (ADVICE r13). Compared as numbers ("0" and "00"
        # are the same threshold). warnings.warn's default filter
        # reports a given mismatch once per process, not on every
        # attach.
        try:
            have = active.sparkContext.getConf().get(
                "spark.shuffle.sort.bypassMergeThreshold", "200"
            )
            differs = int(have) != int(_BYPASS_THRESHOLD)
        except Exception:
            differs = False
        if differs:
            warnings.warn(
                "get_spark: attaching to an active session whose "
                f"spark.shuffle.sort.bypassMergeThreshold={have} differs "
                f"from the requested {_BYPASS_THRESHOLD}; the static conf "
                "cannot be changed mid-session"
            )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()
