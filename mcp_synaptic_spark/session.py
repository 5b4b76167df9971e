"""SparkSession factory tuned for this engine.

Local testing runs ``local[N]`` single-JVM; the config choices below are the
ones that matter at cluster scale too (AQE, shuffle partitions, Arrow for the
few pandas-UDF paths, broadcast threshold). Keep everything declarative so the
same plans survive a 1000-executor deployment.

Python workers start from `worker_daemon`, pyspark's daemon with one rule
changed: a worker task no longer re-reads ``pyspark.zip``'s directory
unless the archive changed. Every Python task paid that re-read, about
140 ms of a reused worker's task before user code ran (the query frame of a
single-query probe, the embedders' pandas UDFs, `createDataFrame` batches).
It exists because CPython 3.11's ``zipimporter.invalidate_caches`` reloads
eagerly; the module can go once workers run a CPython whose zip
invalidation is lazy.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _default_driver_memory() -> str:
    """70% of available RAM, capped at 40g, floored at 2g.

    Reads the cgroup limit when present (container RAM < host RAM) — v2
    memory.max first, then the v1 memory.limit_in_bytes — falling back to
    /proc/meminfo. Any read OR parse failure falls back to the next source,
    then to 8g: a malformed limit file must not crash session construction.
    """
    limit_bytes = None
    for path in ("/sys/fs/cgroup/memory.max", "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            raw = open(path).read().strip()
            val = int(raw)
        except (OSError, ValueError):
            continue  # missing file (other cgroup version) or "max" (unlimited)
        if val < (1 << 60):  # v1 reports ~2^63 when unlimited
            limit_bytes = val
            break
    if limit_bytes is None:
        try:
            with open("/proc/meminfo") as f:
                for line in f:
                    if line.startswith("MemTotal:"):
                        limit_bytes = int(line.split()[1]) * 1024
                        break
        except (OSError, ValueError, IndexError):
            return "8g"
    if limit_bytes is None:
        return "8g"
    gib = int(limit_bytes * 0.7 / (1 << 30))
    return f"{min(40, max(2, gib))}g"


def get_spark(app_name: str = "mcp-synaptic-spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) the session.

    - AQE on: runtime coalescing of shuffle partitions + skew-join splitting —
      at 100 TB the static partition count is always wrong for someone.
    - Arrow enabled for pandas-UDF paths (embedding providers, multimodal).
    - session timezone pinned to UTC: the reference stores tz-aware UTC
      timestamps (models/base.py:33-40); pinning makes oracle comparison and
      cluster runs location-independent.
    - Python workers fork from `worker_daemon` (module docstring). The
      package's parent directory is put on the workers' PYTHONPATH from
      ``__file__``, so the daemon imports whatever the caller's cwd and
      PYTHONPATH are: a daemon that fails to import fails every Python task.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    n_shuffle = shuffle_partitions or int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # the driver's events.parquet stores TIMESTAMP(NANOS); Spark reads it
        # as nanos-since-epoch LONG and sources/tables.py converts to micros
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # InferFiltersFromGenerate turns explode(expensive_expr) into a
        # pushed-down filter that re-evaluates the full expression tree per
        # row (shingle pipelines paid ~2× for it); the explode inputs here are
        # never empty arrays, so the inferred filter only costs.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # local-mode driver hosts ALL executor state: shuffle buffers for N
        # concurrent tasks, broadcast + cached blocks, Arrow allocations. An
        # undersized heap turns long sessions into GC storms that surface as
        # multi-second stalls on allocation-heavy (Arrow/Python) stages — an
        # 8g heap with 32 task threads reproduced 5-25 s first-mapInPandas
        # pauses in aged sessions. Sized from the host (70% of RAM, capped at
        # 40g, floored at 2g) so a smaller container fails soft instead of
        # growing into the cgroup OOM killer; SPARK_DRIVER_MEMORY overrides.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", _default_driver_memory()))
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "mcp_synaptic_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    )
    return builder.getOrCreate()
