"""SparkSession factory with scale-appropriate defaults.

Tuned for the sandbox (local[N], 32 cores) but every conf is the one we
would set on a 1000-executor cluster too: AQE on (coalesce + skew-join),
Arrow batches sized for large text rows, UTC session TZ so the DuckDB
oracle comparison is stable (DuckDB timestamps are UTC-naive).

DataFrame debugging is off (``spark.python.sql.dataFrameDebugging.enabled``).
With it on, PySpark wraps every ``F.*`` and Column call in a call-site
capture that reads the active session, a conf and sets/clears the JVM's
current origin over py4j: about 650 of the ~1,000 round trips one
pipeline batch spent building its plan (BENCH/BASELINE.md finding 13).
What that gives up: an analysis error loses the Python call-site
fragment of its DataFrame context; its error class and message
(``UNRESOLVED_COLUMN`` naming the column and the suggestions) stay. The
conf is static and PySpark caches it process-wide on first use, so it
is set here, where the session is created.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession


def _task_slots(master: str) -> int | None:
    """Task slots implied by a local master URL; None for cluster URLs
    (yarn/k8s/standalone), where the launcher's conf should decide."""
    m = re.match(r"local-cluster\[(\d+),(\d+),\d+\]", master)
    if m:  # E separate executor JVMs x C cores each
        return int(m.group(1)) * int(m.group(2))
    m = re.match(r"local\[(\d+|\*)\]", master)
    if m:
        return 32 if m.group(1) == "*" else int(m.group(1))
    return None


def get_spark(
    app_name: str = "streamcorpus-filter-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # Honor a master provided by the launcher (spark-submit --master ...,
    # the north rule's launch contract). Under spark-submit the python
    # driver attaches to an already-running gateway (PYSPARK_GATEWAY_PORT
    # is set) whose conf carries the real master; calling
    # builder.master() there would silently override it — turning a
    # `--master local-cluster[8,2,3072]` (or a real cluster's
    # `--master yarn`) launch back into single-JVM local mode. Spark 4
    # does NOT surface that master through SparkConf() on the python
    # side, so the only correct move is to not set one and let
    # getOrCreate() resolve it.
    launcher_owns_master = master is None and "PYSPARK_GATEWAY_PORT" in os.environ
    if not launcher_owns_master:
        master = master or f"local[{cpus}]"

    # shuffle partitions ~ task slots for local modes (AQE coalesces
    # down); on a real cluster ~2-3x total cores, set by the launcher.
    # When the launcher owns the master we can only know the slot count
    # AFTER the session exists, so it is applied post-create (the conf is
    # runtime-settable).
    if shuffle_partitions is None and master is not None:
        shuffle_partitions = max(8, _task_slots(master) or 32)

    b = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # web-page rows are fat (html binary + text); keep Arrow batches
        # bounded so Python workers stay within memory at 100TB-scale row
        # sizes. 4096 (~8 MB of pages) A/B-beat 2048 by ~15% at local[32]
        # (fewer fence crossings per task) and was never worse at low N;
        # 8192 regressed (cache pressure in the whole-batch kernels).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # no py4j call-site capture per Column call (module docstring)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    if master is not None:
        b = b.master(master)
    if shuffle_partitions is not None:
        b = b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    if shuffle_partitions is None:
        actual = spark.conf.get("spark.master", "")
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(max(8, _task_slots(actual) or 32)),
        )
    return spark
