"""SparkSession factory tuned for this engine.

Local test profile runs on local[N]; the same settings scale to a real
cluster (AQE on, broadcast threshold, shuffle partitions sized by env).
Timezone pinned to UTC so results are bit-comparable with the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def usable_cpus() -> int:
    """The cores this process may run on (its affinity mask, which a
    container's cpuset narrows), or the machine's count where the
    platform has no affinity call."""
    if hasattr(os, "sched_getaffinity"):
        return len(os.sched_getaffinity(0))
    return os.cpu_count() or 1


# one local worker thread per usable core unless SPARK_GRAFT_CPUS says otherwise
DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or usable_cpus())


def get_spark(
    app_name: str = "irstats2_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-appropriate defaults.

    - AQE enabled: runtime coalescing of shuffle partitions + skew-join
      handling; at 100 TB this is what re-plans around hot keys.
    - ``spark.sql.shuffle.partitions`` defaults to the core count locally;
      on a real cluster set it to 2-3x total cores via env/conf.
    - Arrow enabled for the few Pandas-UDF operators (Repeat filter,
      NameCase, multimodal decode).
    """
    cpus = cpus or DEFAULT_CPUS
    shuffle = shuffle_partitions or cpus
    # Python workers unpickle UDFs by module reference; make this package
    # importable on workers regardless of the driver process's cwd.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    worker_pp = os.environ.get("PYTHONPATH", "")
    if repo_root not in worker_pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{repo_root}{os.pathsep}{worker_pp}" if worker_pp else repo_root
        )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # The driver's events.parquet stores TIMESTAMP(NANOS), which the
        # Parquet reader rejects by default; read as long and convert in
        # the loader (sources/testdata.py).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
