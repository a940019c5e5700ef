"""SparkSession builders tuned for this engine.

Local mode is the sandbox stand-in for a real cluster: ``local[N]`` gives N
executor threads in one JVM. All scale-relevant knobs are expressed so the
same builder works unchanged on a 1000-executor cluster:

- AQE on (runtime coalesce, skew-join splitting) — the engine additionally
  salts known-hot keys itself (operators.skew) because AQE only fixes
  sort-merge-join skew, not window/partitionBy skew.
- shuffle partitions ∝ cores (not the 200 default) — at cluster scale this
  is set ∝ total executor cores by the submitter.
- Arrow enabled — every Python-side stage is a vectorized pandas UDF.
- no file-listing jobs: the table manifest already names every data file,
  so Spark's parallel "list leaf files" job (one task per path, run for any
  read of more than 32 paths by default) is disabled — paths are statted on
  the driver instead.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

#: Execution profiles. ``throughput`` (default) optimizes absolute speed on
#: a box with free memory bandwidth: lz4 shuffle, snappy parquet.
#: ``bandwidth`` spends CPU to shrink every byte moved — zstd shuffle/spill/
#: parquet — which is the right trade whenever bytes are the constraint:
#: network-shuffling clusters (the 100 TB setting) and this sandbox's
#: memory-bandwidth-ceilinged VM (measured in BENCH/BASELINE.md: zstd moves
#: the 1→4-core scaling ratio from ~0.70-0.74 to ~0.83 at ~20% absolute
#: cost at the 8-core optimum).
PROFILES: dict[str, dict[str, str]] = {
    "throughput": {},
    "bandwidth": {
        "spark.io.compression.codec": "zstd",
        "spark.io.compression.zstd.level": "1",
        "spark.shuffle.compress": "true",
        "spark.shuffle.spill.compress": "true",
        "spark.sql.parquet.compression.codec": "zstd",
    },
}


def get_spark(
    app_name: str = "fao_elt_pipelines_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    profile: str = "throughput",
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cores`` controls local parallelism; ``shuffle_partitions`` defaults to
    2×cores so reduce tasks saturate the slots even with stragglers.
    ``profile`` selects a PROFILES entry (codec trade, see above).
    """
    cores = cores or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or 2 * cores
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # Heap sizing measured on this sandbox (see BENCH/BASELINE.md): the
        # default G1 collector page-faults catastrophically on large fresh
        # heaps here (48g G1 = 7x slowdown at 32 threads; +AlwaysPreTouch
        # takes 5 minutes to zero pages). ParallelGC + a moderate heap keeps
        # 32-thread codegen at full speed; shuffle overflow spills to disk.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        # GCLockerRetryAllocationCount: ParallelGC's default of 2 starves
        # allocation under 8+ threads holding JNI-critical sections
        # (snappy/parquet writers) — observed as 'Retried waiting for
        # GCLocker too often' task deaths at the 10^8-event generation.
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get(
                "SPARK_DRIVER_JAVA_OPTS",
                "-XX:+UseParallelGC -XX:+UnlockDiagnosticVMOptions "
                "-XX:GCLockerRetryAllocationCount=100",
            ),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Parquet writer: large row groups for scan throughput at 100 TB.
        .config("spark.sql.files.maxPartitionBytes", str(256 * 1024 * 1024))
        .config("spark.sql.parquet.compression.codec", "snappy")
        # Reads name their files from the table manifest; above this many
        # paths Spark would run a Spark job just to stat them.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", str(2**31 - 1))
    )
    for k, v in {**PROFILES[profile], **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
