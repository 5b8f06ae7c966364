"""SparkSession factory.

The reference implements its own fault tolerance (retry with maxAttempts=3 —
distributed/task.go:11, heartbeats — distributed/worker.go:247, straggler
replication at 1.5x the average task time — distributed/task.go:13,264).
Spark ships all of that; we only set the knobs so the behavior matches:

- ``spark.task.maxFailures=3``            <-> maxAttempts = 3
- ``spark.speculation=true, multiplier=1.5`` <-> straggler replication @ 1.5x
- executor heartbeats are built in         <-> worker heartbeat loop

Scale posture (100 TB / 1000 executors): Spark's default AQE (partition
coalescing + skew join splitting, left unset here), Arrow for every Python
exchange, broadcast threshold sized for dimension tables, shuffle partitions
overridable per deployment.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def cluster_dynamic_allocation_conf(master: str) -> dict[str, str]:
    """Dynamic worker pool parity (distributed/coordinator.go:149
    ``Register``; reference README "Dynamic Worker Pool"): the reference
    lets workers join/leave at runtime. Spark's equivalent is dynamic
    allocation — executors are requested under load and released when
    idle. Gated to cluster masters: local[N] has no executor pool to
    grow, so the block is empty (inert) there. Unit-tested in
    tests/test_cli.py without needing a cluster.
    """
    if master.startswith("local"):
        return {}
    return {
        "spark.dynamicAllocation.enabled": "true",
        "spark.dynamicAllocation.shuffleTracking.enabled": "true",
        "spark.dynamicAllocation.minExecutors": "1",
        "spark.dynamicAllocation.executorIdleTimeout": "60s",
    }


def get_spark(
    app_name: str = "map-reduce-in-go-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    master: str | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    ``master`` defaults to ``local[cpus]``; pass a cluster URL
    (``spark://...``, ``yarn``, ``k8s://...``) to deploy the same configs
    against a real cluster — the reference's coordinator address flag
    (main.go:20-29 ``-addr``) maps here.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
        )
    if master is None:
        # local[N, 3]: the second slot is the LOCAL-mode task-retry count —
        # bare local[N] hard-codes maxTaskFailures=1, silently ignoring
        # spark.task.maxFailures, so retries would exist only on a cluster.
        # Carrying the 3 in the master string makes the retry contract real
        # everywhere (exercised by tests/test_fault_tolerance.py).
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus},3]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.task.maxFailures", "3")
        # straggler replication parity (task.go:13,264-304): speculative
        # re-launch at 1.5x the median task time. The speculation scheduler
        # thread only starts on cluster masters (local mode has no separate
        # executors to replicate onto), so this is inert-but-harmless under
        # local[N] and active on a real deployment.
        .config("spark.speculation", "true")
        .config("spark.speculation.multiplier", "1.5")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in cluster_dynamic_allocation_conf(master).items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def tune_runtime(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable configs to an externally provided session.

    The driver passes us its own SparkSession in ``__spark_entry__``; these
    are the settings that matter for determinism and Arrow transfer and are
    safe to set post-launch.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    # a vanilla session defaults to 200 shuffle partitions — far too many
    # for local mode; AQE coalesces, but the initial number still costs
    try:
        cores = spark.sparkContext.defaultParallelism
        spark.conf.set("spark.sql.shuffle.partitions", str(max(cores, 8)))
    except Exception:  # noqa: BLE001 — conf may be fixed on some deployments
        pass
    return spark
