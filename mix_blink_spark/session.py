"""SparkSession factory tuned for the linkage workload.

Local testing runs ``local[N]``; the same configs are what we'd submit with
``spark-submit --py-files`` on a real cluster. Iceberg catalog config is
applied only when the runtime jar is present (it is not in this sandbox);
all table IO degrades gracefully to parquet via ``plans.resume``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory() -> str:
    """A quarter of the host's physical memory, at most 48 GiB.

    In ``local`` mode the driver JVM is also the executor, so its heap
    must fit the host with room for the Python workers and the page
    cache: a fixed 48g heap on a 15 GiB host grows past physical memory
    before a full GC runs, and the kernel kills the JVM."""
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (OSError, ValueError):
        return "4g"
    return f"{min(total // 4 // 2**20, 48 * 1024)}m"


# At 100 TB / 1000 executors these become cluster-level spark-defaults;
# values here are the local[N] analogues of the same knobs.
_BASE_CONF = {
    # AQE: runtime coalescing, skew-join splitting, join-strategy switching.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for every pandas_udf / mapInPandas boundary.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # keep Arrow batches ~10-16 MB even for 80KB binary cells: big batches
    # collapse throughput at parallelism (measured on the 120k x 80KB
    # scan+extract stage: 1024-row batches = 80MB each -> 30.5s at
    # local[8] / 82s at local[32]; 128-row batches -> 17.3s / 26s).
    # Round 8: Spark 4 has the bytes-based cap the old comment wished for
    # (spark.sql.execution.arrow.maxBytesPerBatch) — cap BYTES at 16 MB
    # (80 KB html cells self-limit to ~200 rows/batch, preserving the
    # measured heavy-cell behavior) and let ROW count go to the Spark
    # default 10k so thin rows (embeddings, norm strings, pair scores) no
    # longer pay a Python-call + argpartition round trip per 128 rows.
    # Measured: the 20k-query knn mapInPandas stage and the JW pair kernel
    # were batch-count-bound at 128 (see OPTIMIZATION_r08.md).
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.sql.execution.arrow.maxBytesPerBatch": str(16 * 1024 * 1024),
    # Small dims (entity dictionary) must broadcast.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Deterministic timestamps in tests.
    "spark.sql.session.timeZone": "UTC",
    # Don't let tiny local files produce one giant partition.
    "spark.sql.files.maxPartitionBytes": str(64 * 1024 * 1024),
    # Parquet codec for everything this engine WRITES (the bench corpus,
    # index/candidate stores, test fixtures). Local default "uncompressed":
    # the bench corpus is page-cache-resident and the scan is DECOMPRESS-
    # bound, not IO-bound — measured on the 80 KB-page corpus row groups:
    # snappy 4.6k pages/s, zstd 4.9k, lz4 7.3k, uncompressed 14.5k (3.2x)
    # at warm cache (round 8). On a real cluster reading cold object
    # storage the trade flips (storage + NIC bytes dominate): set
    # SPARK_GRAFT_PARQUET_CODEC=zstd there, per the optimization guide's
    # I/O section. Env-parameterised, not hard-coded, for exactly that
    # reason.
    "spark.sql.parquet.compression.codec": os.environ.get(
        "SPARK_GRAFT_PARQUET_CODEC", "uncompressed"
    ),
    "spark.ui.enabled": "false",
    # managed-table home for bucketed tables (static conf; set at startup)
    "spark.sql.warehouse.dir": os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/mbs-warehouse"),
    # local mode: the driver IS the executor — 32 concurrent tasks with
    # Arrow batches + shuffle buffers thrash GC under small heaps (measured
    # 66s -> 41s on the bench pipeline going 8g -> 24g), but the heap must
    # also fit the host: sized from physical memory, SPARK_GRAFT_DRIVER_MEM
    # overrides
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
}


def get_spark(
    app_name: str = "mix-blink-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (driver contract) or
    ``local[*]``. ``shuffle_partitions`` defaults to the core count so the
    local shuffle fan-out matches parallelism; on a real cluster this is
    ~2-3x total cores and AQE coalesces down.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        if cpus:
            shuffle_partitions = max(int(cpus), 4)
        else:
            shuffle_partitions = max(os.cpu_count() or 4, 4)

    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in _BASE_CONF.items():
        builder = builder.config(k, v)
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def iceberg_available(spark: SparkSession) -> bool:
    """True if an Iceberg runtime is on the classpath (not in this sandbox).

    NOTE: must go through Class.forName — attribute access on
    ``spark._jvm`` is lazy in py4j and returns a JavaPackage without ever
    touching the classloader, so it never fails for missing classes."""
    try:
        spark._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
            "org.apache.iceberg.Schema"
        )
        return True
    except Exception:
        return False
