"""SparkSession factory with the engine's standard config. The session
it returns is already shipped (``bundle.ensure_shipped``): every Python
stage run on it imports ``crawspark`` whatever the driver's cwd."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from crawspark.bundle import ensure_shipped


def _default_driver_mem() -> str:
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 30
    return f"{max(1, min(48, ram_gb // 2))}g"


def get_spark(master: str | None = None, app: str = "crawspark",
              shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    b = (
        SparkSession.builder.appName(app)
        .master(master or f"local[{cpus}]")
        # Arrow transfer for the (only) Python stage; AQE for runtime
        # re-planning (skew-join split, partition coalescing).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Evaluated and NOT adopted (r6): preferSortMergeJoin=false +
        # a 256m AQE shuffled-hash threshold measured inside the box's
        # noise band (one A/B showed jaccard 13.9→11.3s, the repeat
        # showed the reverse; identical-config runs swing 2.4x), and
        # SHJ carries a build-side OOM tail at cluster scale — config
        # is the guide's last-10-30% lever and this one is unprovable
        # here, so the default SMJ planning stays.
        .config("spark.sql.shuffle.partitions",
                str(shuffle_partitions or int(cpus)))
        .config("spark.sql.session.timeZone", "UTC")
        # Local-mode JVM handles scan + arrow conversion + shuffle for all
        # cores at once; a small heap GC-thrashes under the nested spans
        # payload (measured: 2x throughput variance). On a real cluster
        # these become per-executor settings in spark-submit. The default
        # is capped at half the machine's RAM: a heap allowed past it
        # lets G1 grow until the kernel's OOM killer takes the JVM (seen
        # at 15.1 GB resident on a 16 GB box).
        .config("spark.driver.memory",
                os.environ.get("CRAWSPARK_DRIVER_MEM", _default_driver_mem()))
        .config("spark.driver.extraJavaOptions",
                "-XX:+UseG1GC -XX:G1HeapRegionSize=32m "
                "-XX:InitiatingHeapOccupancyPercent=60")
        .config("spark.memory.fraction", "0.7")
        .config("spark.ui.enabled", "false")
    )
    spark = b.getOrCreate()
    ensure_shipped(spark)
    return spark
