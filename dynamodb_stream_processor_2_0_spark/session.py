"""SparkSession factory tuned for the engine.

Local mode for tests/bench; the same configs are the right defaults on a
real cluster (AQE, UTC, Arrow). ``spark.sql.shuffle.partitions`` is sized
from SPARK_GRAFT_CPUS locally; on a 1000-executor cluster it should be
~2-3x total cores (or left to AQE coalescing, which is enabled).

Two settings cut the fixed cost of a small streaming trigger:

- ``spark.python.daemon.module`` starts Python workers through
  ``worker_daemon``. PySpark re-reads every cached zip archive at the
  start of each task (one importer per package prefix, 14-16 per
  worker: 130-265 ms a task on CPython 3.11, 4 cores); the daemon skips
  only archives that have not changed on disk, so archives a job ships
  or updates (``--py-files``, ``addPyFile``) are still read, on a
  cluster as locally.
  ``spark.executorEnv.PYTHONPATH`` adds the package root so the daemon
  module imports from any working directory; on a cluster the package
  must be installed where the executors' Python can import it.
- ``spark.sql.streaming.checkpointFileManagerClass`` is Spark's
  FileSystem-based manager instead of the FileContext default, whose
  local-file renames make Hadoop fork ``readlink``. It keeps the same
  protocol (write a temp file, then rename it over the target, one
  writer per file) and the same checksums (Spark's ``fileChecksum``
  files and Hadoop's ``.crc``), so on HDFS it gives the same
  single-writer and integrity guarantees.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession

CHECKPOINT_FILE_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def get_spark(app_name: str = "dynamodb_stream_processor_2_0_spark") -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", f"{__package__}.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", str(Path(__file__).resolve().parents[1]))
        .config("spark.sql.streaming.checkpointFileManagerClass", CHECKPOINT_FILE_MANAGER)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Pin the heap floor to its ceiling (-Xms == -Xmx). G1 shrinks
        # the committed heap at remark/full-GC by default; every later
        # regrow re-faults fresh pages from the OS. r13 measured this
        # host serving first-touch faults at up to 736 us/page in
        # transient episodes (OPTIMIZATION_r13.md), which turns each
        # uncommit/recommit cycle into seconds of stall inside query
        # timings. A fixed heap faults each page at most once per
        # session and never returns it mid-run. Same setting a real
        # cluster uses for long-lived executors (§5: stable execution
        # memory beats elastic footprint for a dedicated node).
        .config(
            "spark.driver.extraJavaOptions",
            "-Xms" + os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
