"""SparkSession factory with the engine's standard configuration.

Parity notes (reference: /root/reference/process.py):
- Timezone pinned to UTC: all reference time math is on raw epoch millis
  (process.py:204), so plans must never apply a local-TZ shift.
- Arrow enabled: result export (the reference's CSV sink, process.py:100-107)
  goes through toPandas(); Arrow batches make that a columnar copy.
- AQE on: runtime re-planning (skew joins, coalesced shuffle partitions) is
  the 100 TB insurance policy for the extension joins.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Session-level confs applied to every session this engine touches. These are
# all runtime-settable, so they can also be applied to an externally provided
# session via `configure(spark)`.
ENGINE_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # The driver-provided events.parquet stores TIMESTAMP(NANOS), which the
    # vectorized parquet reader rejects; read it as raw nanos longs instead
    # (we do all event-time math on epoch integers anyway, like the reference).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Python DataSource filter pushdown (sources/capture_datasource.py):
    # lets a Python connector's pushFilters() prune partitions driver-side.
    "spark.sql.python.filterPushdown.enabled": "true",
}


def configure(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime confs to an existing session (idempotent)."""
    for k, v in ENGINE_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Conf not settable at runtime in this build — leave the session's
            # existing value; every conf above is per-query correct by default.
            pass
    return spark


def default_driver_memory() -> str:
    """The local-mode heap when neither ``driver_memory`` nor
    ``$SPARK_GRAFT_DRIVER_MEM`` is given: half the host's ``MemTotal``
    (/proc/meminfo), in whole GiB, at least ``1g`` (also the answer where
    /proc/meminfo cannot be read)."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    kib = int(line.split()[1])
                    return f"{max(1, kib // (2 * 1024 * 1024))}g"
    except (OSError, ValueError, IndexError):
        pass
    return "1g"


def default_cores() -> int:
    """The local-mode core count when none is given: ``$SPARK_GRAFT_CPUS``,
    else the cores this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def get_spark(
    app_name: str = "komodo-data-spark",
    master: str | None = None,
    shuffle_partitions: int = 32,
    driver_memory: str | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession configured for this engine.

    ``shuffle_partitions`` defaults to 32 to match the local[32] test rig; on
    a real cluster leave spark.sql.shuffle.partitions to AQE by passing a
    high initial value (AQE coalesces down, never up).

    ``driver_memory`` sizes the single local-mode JVM (driver AND all
    executor threads share one heap there — Spark's 1g default OOMs hash
    aggregates already at the repo-generated sf1, ~6M lineitem rows).
    Default from ``$SPARK_GRAFT_DRIVER_MEM``, else
    ``default_driver_memory()``. Only effective for the session that
    launches the JVM; a pre-existing session keeps its heap (getOrCreate
    semantics).
    """
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    builder = builder.config(
        "spark.driver.memory",
        driver_memory
        or os.environ.get("SPARK_GRAFT_DRIVER_MEM")
        or default_driver_memory(),
    )
    for k, v in ENGINE_CONFS.items():
        builder = builder.config(k, v)
    return configure(builder.getOrCreate())


def recommended_cluster_conf(
    input_bytes: int,
    executors: int = 1000,
    cores_per_executor: int = 4,
    executor_mem_gb: int = 16,
) -> dict[str, str]:
    """Sizing formulas for a real cluster run at a given input volume —
    design-for-100-TB as code, derived from first principles rather than
    defaults:

    - ``shuffle.partitions``: target ~128 MB of shuffle data per task
      (assume shuffle ≈ input for worst-case wide transforms), floored at
      2× total cores so every slot has work and AQE can only *coalesce*
      downward — it never splits an under-partitioned shuffle.
    - ``files.maxPartitionBytes``: keep the default 128 MB split for
      row-group alignment; payload-heavy (multimodal) tables should halve
      it instead of raising executor memory.
    - ``autoBroadcastJoinThreshold``: 64 MB — at 16 GB executors a
      broadcast twice the default 10 MB is still cheap, and every
      dim-table join it converts removes a full shuffle of the fact side.
    - memory: ~60% of executor memory is usable for execution after
      reserved + storage; a partition must fit with ~3× expansion room
      (deserialization + sort buffers), which the 128 MB target respects
      at 16 GB / 4 cores.

    At local[32]/sf0.1 none of this matters (32 partitions suffice — see
    bench.py); this function is the knob sheet for the real deployment.
    """
    total_cores = executors * cores_per_executor
    target_task_bytes = 128 * 1024 * 1024
    parts = max(2 * total_cores, input_bytes // target_task_bytes)
    return {
        "spark.sql.shuffle.partitions": str(parts),
        "spark.sql.files.maxPartitionBytes": str(target_task_bytes),
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(
            target_task_bytes
        ),
        "spark.executor.memory": f"{executor_mem_gb}g",
        "spark.executor.cores": str(cores_per_executor),
    }
