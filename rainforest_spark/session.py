"""SparkSession factory.

Mirrors the engine configuration the reference hard-codes at
rainforest/database_10min/database.py:17-24 (local master, 100 MB
auto-broadcast threshold, case-sensitive SQL), but sized for the target
environment and with the scale-oriented switches a 1000-executor cluster
wants on by default: AQE (runtime re-planning + skew-join handling),
Arrow-based pandas interchange, UTC session time.
"""

from __future__ import annotations

import os
import shlex

from pyspark.sql import SparkSession

#: Reference: spark.sql.autoBroadcastJoinThreshold = 1024*1024*100
#: (database_10min/database.py:18).
AUTO_BROADCAST_BYTES = 100 * 1024 * 1024

#: Reference collects results < WARNING_RAM to the driver
#: (common/constants.py:325, database.py:192-198).
WARNING_RAM_MB = 512


def default_parallelism() -> int:
    """Task slots for ``local[N]``: ``$SPARK_GRAFT_CPUS`` when set, else
    the cores this process may run on (its CPU affinity where the
    platform reports one)."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    if hasattr(os, "sched_getaffinity"):
        return len(os.sched_getaffinity(0))
    return os.cpu_count() or 1


#: Ceiling of the default driver heap (what a big box gets).
MAX_DRIVER_MEM_MB = 24 * 1024


def default_driver_memory() -> str:
    """Driver heap for ``local[N]``: ``$SPARK_GRAFT_DRIVER_MEM`` when
    set, else half the machine's physical memory (MemTotal), capped at
    24g."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    try:
        total = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    except (AttributeError, ValueError, OSError):
        return f"{MAX_DRIVER_MEM_MB}m"
    return f"{min(total // 2**21, MAX_DRIVER_MEM_MB)}m"


def _submitted_master() -> str | None:
    """The master spark-submit supplies, else None, without starting a
    JVM (its heap size must still be settable): ``--master`` in
    ``$PYSPARK_SUBMIT_ARGS`` (read when pyspark launches its JVM), else
    ``spark.master`` of the JVM that launched this process
    (``$PYSPARK_GATEWAY_PORT``, set by spark-submit)."""
    args = shlex.split(os.environ.get("PYSPARK_SUBMIT_ARGS", ""))
    for flag, value in zip(args, args[1:] + [""]):
        if flag == "--master":
            return value
        if flag.startswith("--master="):
            return flag.split("=", 1)[1]
    if os.environ.get("PYSPARK_GATEWAY_PORT"):
        from pyspark import SparkContext

        SparkContext._ensure_initialized()  # connects to the running JVM
        return SparkContext._jvm.java.lang.System.getProperty("spark.master")
    return None


def get_spark(app_name: str = "rainforest-spark",
              master: str | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    The master is ``master`` if given, else the one spark-submit
    supplies (a real cluster), else ``local[$SPARK_GRAFT_CPUS]``;
    everything else here applies to all three.
    """
    cpus = default_parallelism()
    submitted = None if master else _submitted_master()
    master = master or submitted or f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name)
    if master != submitted:
        builder = builder.master(master)
    builder = (
        builder
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.autoBroadcastJoinThreshold", str(AUTO_BROADCAST_BYTES))
        .config("spark.sql.caseSensitive", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # local[N] runs ALL executor work inside the driver JVM — size
        # the heap for the box (the round-6 sf10 bench OOMed a
        # broadcast build at 8g with 125 GB sitting free; a 24g heap
        # on a 16 GB box lets the JVM grow until the host kills it).
        # On a real cluster spark-submit supplies executor/driver
        # memory and this default is irrelevant.
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.ui.enabled", "false")
    )
    if master.startswith("local"):
        # Spark 4.1 writes a companion ".checksum" file for EVERY
        # checkpoint file (offsets, commits, state deltas, sink
        # metadata) by default.  A local master checkpoints to the
        # Hadoop LocalFileSystem, which already checksums writes (.crc
        # companions), so the Spark-level pass doubles the file ops per
        # micro-batch for no added integrity.  Measured (steal-guarded
        # A/B): the 31-batch RT chain at sf1 drops 28.2 -> 19.1 s with
        # it off; work-bound streams (s02/s05 at sf10) are unchanged.
        # Any other master keeps Spark's default, since its checkpoints
        # may sit on an object store without native checksums.
        builder = builder.config(
            "spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
