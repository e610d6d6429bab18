"""SparkSession factory.

The reference hard-codes ``.master("Yarn")`` (an invalid master URL,
reference ``Data Transformation.py:19`` — SURVEY.md §2.9 Q2) and passes S3
credentials inline (``Data Transformation.py:16-18``). Here the master comes
from the environment and all scale-relevant knobs are set declaratively so
Catalyst/AQE can do the physical planning:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting,
  dynamic broadcast) — the 100 TB safety net.
- Arrow enabled for the Pandas-UDF extension operators.
- ``spark.sql.shuffle.partitions`` sized from the environment; on a real
  cluster this should be ~2-3x total cores (AQE coalesces down).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_APP_NAME = "retail_etl_pipeline_spark"

#: ceiling of the derived driver-heap default, in MiB (64g)
_DRIVER_MEMORY_CAP_MB = 64 * 1024


def default_driver_memory(phys_bytes: int | None = None) -> str:
    """Default ``spark.driver.memory``: half the host's physical memory,
    capped at 64g. In local mode the driver JVM also runs every
    executor, so a fixed heap larger than the host would let it grow
    until the host runs out of memory."""
    if phys_bytes is None:
        try:
            phys_bytes = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
        except (AttributeError, ValueError, OSError):
            return f"{_DRIVER_MEMORY_CAP_MB}m"
    return f"{min(phys_bytes // 2 // 2**20, _DRIVER_MEMORY_CAP_MB)}m"


def get_spark(
    app_name: str = _APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession configured for this engine.

    Master resolution order: explicit arg > $SPARK_MASTER > local[N] where
    N = $SPARK_GRAFT_CPUS or all cores. Never hard-coded (fixes the
    reference's ``.master("Yarn")``, ``Data Transformation.py:19``).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get(
                "SPARK_SHUFFLE_PARTITIONS",
                cpus if cpus not in ("*", "") else os.cpu_count() or 8,
            )
        )

    driver_mem = os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory()
    # Shuffle/spill scratch space (r11). This sandbox's root disk writes at
    # ~20 MB/s with multi-second latency spikes (shared virtio + gVisor
    # syscall interception): thread dumps of the stalled bench showed 32
    # map tasks blocked in FileChannel.transferTo/map0 merging shuffle
    # spill files under the default /tmp — 10-60 s stalls on MB-sized
    # shuffles, worst at 32 cores where concurrent writers and the M x R
    # block count are largest (guide §2.1 "local disk bandwidth for
    # shuffle files can be the tighter limit", §2.2). tmpfs removes the
    # disk from the path; at bench scale shuffle data is MBs against a
    # 126 GB /dev/shm. On a real cluster set $SPARK_GRAFT_LOCAL_DIR (or
    # Spark's own SPARK_LOCAL_DIRS) to the fast local SSDs.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/spark-graft-local"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # local mode: driver == executors; the 1g default heap OOMs on the
        # wider plans. Applied at JVM launch (first session in the process).
        .config("spark.driver.memory", driver_mem)
        # --- adaptive execution: runtime re-planning at scale -------------
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # CPU-dense, byte-tiny shuffle stages (decimal aggregates, the
        # fixed-point graph iterations, zero-filled stat grids) get
        # coalesced to 2-3 tasks under the default 1 MB floor because
        # AQE's parallelismFirst sizing is byte-based — it cannot see
        # per-row CPU cost. A 64 KB floor keeps such stages at cluster
        # parallelism; it is inactive whenever a shuffle carries real
        # volume (partitions >> 64 KB), so production sizing via
        # advisoryPartitionSizeInBytes is untouched at any scale.
        # Override via $SPARK_AQE_MIN_PARTITION_SIZE. Measured (r10):
        # revenue_trend_jt 14.2 s -> 6.0 s, part_copurchase_pagerank
        # 7.1 s -> 5.4 s, no regression on sub-second queries.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_AQE_MIN_PARTITION_SIZE", "64k"),
        )
        # --- shuffle sizing ------------------------------------------------
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # --- python <-> jvm data path: Arrow batches, never pickled rows ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # --- parquet TIMESTAMP(NANOS) (events.ts) read as long nanos;
        #     fixtures_adapter converts to a microsecond timestamp ----------
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # --- deterministic session timezone for date/window semantics ------
        .config("spark.sql.session.timeZone", "UTC")
        # quiet the local UI in tests/bench
        .config("spark.ui.enabled", os.environ.get("SPARK_UI_ENABLED", "false"))
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def configure_object_store(
    spark: SparkSession,
    endpoint: str | None = None,
    access_key: str | None = None,
    secret_key: str | None = None,
    path_style_access: bool | None = None,
) -> None:
    """S3/S6: object-store (s3a) access on an existing session — the
    reference wires credentials inline on the builder
    (``Data Transformation.py:16-18``) and defines a storage integration in
    the warehouse (``Storage Integration.sql:5-22``). Here it is one
    explicit, optional call; in production prefer instance-profile or
    environment credential providers over literal keys."""
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    if endpoint is not None:
        hconf.set("fs.s3a.endpoint", endpoint)
    if access_key is not None:
        hconf.set("fs.s3a.access.key", access_key)
    if secret_key is not None:
        hconf.set("fs.s3a.secret.key", secret_key)
    if path_style_access is not None:
        hconf.set("fs.s3a.path.style.access", str(path_style_access).lower())
