"""SparkSession factory with scale-oriented defaults.

Local-mode testing stands in for a multi-executor cluster; every config
here is the one we would ship to a 1000-executor job (AQE on, skew-join
splitting on, Arrow on), with only partition counts sized down.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _host_driver_memory() -> str:
    """Half the host's physical memory, at most 32g: a driver heap the
    JVM can reach without being OOM-killed, so it collects garbage
    instead."""
    with open("/proc/meminfo") as fh:
        kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return f"{min(kb // 2048, 32 * 1024)}m"


def get_spark(
    app_name: str = "webgraph_big_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` (driver contract) else the
    cores this process may run on; the driver heap to
    ``$SPARK_DRIVER_MEMORY`` else half the host's memory, at most 32g.
    ``shuffle_partitions`` defaults to ``cpus`` — on a real cluster this
    would be ~2-3x total cores; AQE coalesces down at runtime either way.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)

    # Shuffle/spill/localCheckpoint blocks go through spark.local.dir; on
    # this sandbox the root block device has multi-second write stalls that
    # showed up as random 30-40s stage stalls, so prefer the RAM-backed
    # tmpfs when present (a real cluster would set fast NVMe local dirs).
    local_dir = os.environ.get("SPARK_LOCAL_DIRS")
    if local_dir is None and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/spark-local"

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # NB (measured, round 6): leave coalescing at Spark's defaults.
        # parallelismFirst=false + a 64m advisory was tried and REGRESSED
        # the mid-size stages (10-20 MB shuffles collapse to one task at
        # sf0.1) while the tiny iterative-state exchanges already
        # coalesce under the default 1 MB minPartitionSize floor; an A/B
        # on scc_fwbw showed ~30% loss with bytes-first coalescing.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Catalyst constraint propagation is O(expressions²) during
        # optimization and never helps these iterative join shapes.  It
        # was turned off for the one-column-per-register HyperBall plans
        # (hundreds of expressions; ~10-15% on hyperball_centralities at
        # sf0.1), which no longer exist; whether dropping the setting
        # now pays off needs its own A/B over every workload.  Purely an
        # optimizer-cost knob — plans stay semantically identical.
        .config("spark.sql.constraintPropagation.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY") or _host_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
