"""SparkSession construction with scale-oriented defaults.

The engine targets large clusters (100 TB inputs, ~1000 executors) but is
developed and tested on ``local[N]``.  Every conf here is safe in both modes:

- AQE on: runtime coalescing of shuffle partitions, skew-join splitting and
  dynamic broadcast conversion replace hand-tuned partition counts at scale.
- ``spark.sql.shuffle.partitions`` is only an *initial* value under AQE; we
  keep it modest locally, a real deployment would raise it (or rely on
  ``spark.sql.adaptive.coalescePartitions.initialPartitionNum``).
- Arrow execution for the few Pandas-UDF paths (similarity search fallback,
  multimodal decode) — JVM<->Python transfer is columnar, not per-row.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _local_cpus() -> str:
    """Task slots of the local master: ``SPARK_GRAFT_CPUS`` when set,
    else the CPUs this process may run on."""
    return os.environ.get("SPARK_GRAFT_CPUS") or str(
        len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity")
        else os.cpu_count() or 1
    )


_LOCAL_CPUS = _local_cpus()
# local mode runs driver + all executor threads in ONE JVM; the 1g default
# heap OOMs with 32 concurrent tasks over array-heavy expressions.  Only
# applied at JVM launch (no effect on an already-running session or on a
# real cluster submit, which sets its own memory).
_LOCAL_DRIVER_MEM = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
# AQE partition coalescing, sized to DATA not core count (guide §2.2).
# parallelismFirst=true (Spark's default) coalesces tiny shuffles only
# down to minPartitionSize (1 MB) chunks "to maximize parallelism" — on
# the deep sketch/graph/closure plans this keeps dozens of near-empty
# reducers per exchange, and the r11 driver record showed the heavy tail
# RUNNING FASTER ON 8 CORES THAN 32 (q166 ratio 0.36, q167 0.25, q188
# 0.62: pure per-task scheduling overhead).  parallelismFirst=false makes
# AQE honor advisoryPartitionSizeInBytes — the Spark-documented
# production recommendation.  The advisory size is the scale knob, sized
# to DATA-per-partition: 1m locally (tiny SFs: KB-scale choreography
# exchanges collapse to 1 task — measured A/B q166 −56%, q167 −78%,
# q188 −51%, q118 −29% — while the MB-scale exchanges feeding CPU-dense
# verify joins keep their parallelism: 4m/64m advisories serialized
# q181's array-intersection verify to 2× slower, 1m keeps it flat); a
# real cluster submit should raise it to the 64m default or beyond
# (guide §9 uses 256m) where partitions should hold 100 MB–1 GB.
_PARALLELISM_FIRST = os.environ.get("SPARK_GRAFT_PARALLELISM_FIRST", "false")
_ADVISORY_PART = os.environ.get("SPARK_GRAFT_ADVISORY_PART", "1m")


def get_spark(
    app_name: str = "dudb_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    Parameters are overridable for tests; production deployments submit with
    their own master/resource config and only inherit the SQL confs.
    """
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{_LOCAL_CPUS}]")
        # --- adaptive execution: the scale story ------------------------
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.adaptive.coalescePartitions.parallelismFirst",
            _PARALLELISM_FIRST,
        )
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            _ADVISORY_PART,
        )
        # --- shuffle sizing --------------------------------------------
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or int(_LOCAL_CPUS)),
        )
        # --- python interop --------------------------------------------
        # no per-call call-site capture: with it on, every Column or
        # DataFrame call adds 4+ py4j round trips and a stack walk
        # (878 -> 259 py4j calls per warm `find`).  pyspark caches the
        # flag on first use, so it must be set when the session is built.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- scan sizing: parquet splits sized for executor memory ------
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # --- keep the driver UI off in tests/benchmarks -----------------
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        # timestamps in fixtures are naive; pin session TZ for determinism
        .config("spark.sql.session.timeZone", "UTC")
        # --- local-mode JVM sizing & clean stdout ----------------------
        .config("spark.driver.memory", _LOCAL_DRIVER_MEM)
        # JVM unified logging (e.g. gc,alloc warnings under pressure)
        # writes to STDOUT and would corrupt bench.py's one-line-JSON
        # contract; route everything through log4j instead
        .config("spark.driver.extraJavaOptions", "-Xlog:disable")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
