"""SparkSession factory with the engine's required configs."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def driver_memory(mem_total_bytes: int | None = None) -> str:
    """``spark.driver.memory`` for a local session: ``SPARK_DRIVER_MEM``
    when set, else a quarter of the host's physical memory capped at 8g.
    A fixed 8g heap let two sessions on a 15 GB host grow past its RAM
    together, and the kernel killed one JVM."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    if mem_total_bytes is None:
        try:
            mem_total_bytes = (
                os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
            )
        except (AttributeError, ValueError, OSError):
            return "8g"
    return f"{min(mem_total_bytes >> 22, 8192)}m"


def get_spark(
    app_name: str = "frankensearch_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Local-mode session tuned for the engine.

    Arrow transfer is mandatory (all custom operators are pandas UDFs);
    AQE is on so skewed shuffles re-plan at runtime (north-rule skew
    handling rides on explicit docid-bucket salting *plus* AQE).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or max(cpus * 2, 8)
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
    )
    # ephemeral shuffle/spill on tmpfs when available: shuffle I/O must not
    # serialize behind the VM's single virtio disk (~700 MB/s) — on a real
    # cluster this is per-node local NVMe
    if os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        b = b.config(
            "spark.local.dir",
            os.environ.get("SPARK_LOCAL_DIRS", "/dev/shm/spark-local"),
        )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
