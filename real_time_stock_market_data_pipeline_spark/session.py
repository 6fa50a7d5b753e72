"""SparkSession factory tuned for the test/bench harness.

Local mode is a single JVM; ``spark.driver.memory`` is the only memory knob.
The settings below are also what we would ship as cluster defaults: AQE on
(runtime re-planning, skew-join splitting, partition coalescing), shuffle
partitions sized to the parallelism at hand instead of the 200 default, Arrow
for every pandas boundary, and UTC timestamps so results compare cleanly
against external engines (the DuckDB oracle, Postgres in the reference).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "rtsm_pipeline_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` or all cores.  Shuffle
    partitions default to the core count — at cluster scale this should be
    sized to total executor cores (AQE coalesces the excess anyway).
    """
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # no console progress bar: its \r-prefixed stderr lines glue onto
        # stdout when a consumer merges streams, corrupting the one-line
        # JSON contract bench.py prints (observed as BENCH parsed=None)
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # events.ts is TIMESTAMP(MICROS) in the local testdata (sf0.001,
        # sf0.01, sf0.1); this serves drivers that write TIMESTAMP(NANOS),
        # which vanilla Spark rejects: read as long and convert
        # (sources.readers)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Streaming checkpoints (offsets/commits logs, state-store deltas)
        # rename each temp file into place.  The default FileContext manager
        # renames through a link-status lookup that, without libhadoop, forks
        # `readlink` for every file: ~1 000 forks per 6 micro-batches, on the
        # stream thread and inside each stateful task's commit.  The session
        # is always local[N], so checkpoints are on `file:`, where
        # FileSystem.rename is rename(2): atomic, replaces the target, no
        # lookup.  Spark's checkpoint checksums and Hadoop's .crc files stay.
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        # Generated-class cache (static: fixed when the JVM's first session
        # starts).  Spark's default holds 100 classes in 4 LRU segments,
        # but the 12 dashboard reads alone need 152-174: at 100 every
        # repeat pass re-runs Janino 110-148 times and the JIT compiles
        # each new class again.  One pass of the whole query registry at
        # sf0.001 compiles 4 905 classes with no cap; 8 192 holds it, at
        # ≈ 40 MB of Metaspace (≈ 200 → ≈ 239 MB).  The dashboard's
        # working set costs a few MB.
        .config("spark.sql.codegen.cache.maxEntries", "8192")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
