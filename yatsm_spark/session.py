"""SparkSession factory with the engine's required configuration.

Every entry point (tests, jobs/, bench.py, __spark_entry__.py) goes through
:func:`get_spark` so determinism-critical confs (UTC timezone, Arrow on,
AQE on) are pinned in exactly one place.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Confs that affect RESULTS (not just speed) — never override these.
_CORRECTNESS_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Arrow batch size of the pandas-UDF stages; the grouped kernels carry
    # a url split across batches over to the next (plans/grouped.py).
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
}

# Perf confs — overridable via extra_confs.
_PERF_CONFS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.ui.enabled": "false",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
}


def driver_memory(phys_bytes: int | None = None) -> str:
    """``spark.driver.memory`` for a local session: ``$YATSM_SPARK_DRIVER_MEM``
    when set, else a quarter of physical RAM, clamped to [1g, 48g].  A
    fixed 48g default let the driver JVM outgrow a 16 GB machine's RAM
    and be OOM-killed mid test suite."""
    explicit = os.environ.get("YATSM_SPARK_DRIVER_MEM")
    if explicit:
        return explicit
    if phys_bytes is None:
        phys_bytes = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{min(max(phys_bytes // 4 >> 20, 1024), 48 * 1024)}m"


def get_spark(
    app_name: str = "yatsm_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_confs: dict[str, str] | None = None,
    hive: bool = False,
) -> SparkSession:
    """Build (or fetch) the configured SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default all
    cores).  ``shuffle_partitions`` defaults to 2x the local core count so
    AQE has room to coalesce — on a real cluster pass an explicit value
    sized to the input (~128 MB per post-shuffle partition).
    """
    # local-mode Python workers must be able to import yatsm_spark no matter
    # where the driver was launched from; on a real cluster this is replaced
    # by spark-submit --py-files engine.zip (jobs/README).
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pypath = os.environ.get("PYTHONPATH", "")
    if repo_root not in pypath.split(os.pathsep):
        os.environ["PYTHONPATH"] = repo_root + (os.pathsep + pypath if pypath else "")

    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"

    builder = SparkSession.builder.appName(app_name).master(master)

    if shuffle_partitions is None:
        ncores = os.cpu_count() or 8
        if master.startswith("local["):
            inner = master[6:-1]
            if inner.isdigit():
                ncores = int(inner)
        shuffle_partitions = max(8, 2 * ncores)
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))

    builder = builder.config("spark.driver.memory", driver_memory())

    for k, v in {**_PERF_CONFS, **(extra_confs or {}), **_CORRECTNESS_CONFS}.items():
        builder = builder.config(k, v)

    if hive:
        # persistent (Derby) catalog: bucketed managed tables survive across
        # sessions/processes — required for the shuffle-free presorted
        # kernel path (sources/storage.py::write_bucketed_tier)
        builder = builder.config(
            "spark.sql.catalogImplementation", "hive"
        ).enableHiveSupport()

    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
