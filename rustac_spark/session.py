"""SparkSession factory with the engine's standard configuration.

Scale posture (100 TB / 1000-executor design point; the local
master defaults to one thread per host core, ``SPARK_GRAFT_CPUS``
overrides it):
- AQE on (runtime re-plan, skew-join splitting, partition coalescing),
- Arrow transfer on (all Python UDFs are pandas/Arrow-batched),
- session timezone pinned to UTC (STAC datetime semantics are UTC,
  mirrors the reference's Timestamp(ms, UTC) coercion at
  crates/core/src/geoarrow/mod.rs:186-197),
- shuffle partitions sized for the local harness; on a real cluster
  AQE coalesces from a high initial number.
"""

from __future__ import annotations

import os
import zipfile

from pyspark.sql import SparkSession


def package_zip() -> str:
    """Zip the rustac_spark package for --py-files-style shipping
    (executors' Python workers must import it for pandas UDFs)."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    out = os.path.join("/tmp", "rustac_spark_pkg.zip")
    with zipfile.ZipFile(out, "w") as z:
        for root, _dirs, files in os.walk(pkg_dir):
            if "__pycache__" in root:
                continue
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                    z.write(full, rel)
    return out


def get_spark(app: str = "rustac-spark", master: str | None = None,
              shuffle_partitions: int | None = None,
              extra: dict | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 1))
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or int(os.environ.get(
        "RUSTAC_SHUFFLE_PARTITIONS", str(2 * int(cpus) if cpus.isdigit() else 64)))
    b = (
        SparkSession.builder.appName(app)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        # 16g, NOT bigger: a 48g heap measured 2-10x slower on this VM
        # (first-touch page faults + G1 young-gen sizing stall multi-sec)
        .config("spark.driver.memory", os.environ.get("RUSTAC_DRIVER_MEM", "16g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # local mode: all executor threads share one JVM — heap and GC
        # must be sized for the thread count, and shuffle/spill goes to
        # tmpfs (measured: 8g heap + disk shuffle inverts scaling,
        # local[32] slower than local[8] from GC + I/O contention)
        .config("spark.local.dir", os.environ.get("RUSTAC_LOCAL_DIR",
                                                  "/dev/shm/spark-local"))
        .config("spark.driver.extraJavaOptions",
                "-XX:+UseG1GC -XX:ParallelGCThreads=8")
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    # self-ship the package so executor Python workers can unpickle
    # pandas-UDF closures regardless of the driver's cwd (the
    # spark-submit --py-files deployment story, automated)
    spark.sparkContext.addPyFile(package_zip())
    return spark
