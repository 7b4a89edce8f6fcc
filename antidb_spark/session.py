"""SparkSession factory with scale-appropriate defaults.

Local mode here is a stand-in for a multi-executor cluster; every knob is
chosen so the same code runs unchanged under ``spark-submit --py-files``
on a real cluster (AQE on, Arrow on, UTC timestamps for oracle parity).
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

from antidb_spark.sources.catalog import LEAF_ROW_GROUP_BYTES

# Scan geometry for INDEX-BLOCK scans only (``index_scan_conf``), two
# rules for two file shapes:
#
# - Large straggler files split at 4 MB. Index tables are term-range
#   partitioned, so per-FILE work is skewed (the file holding 'the'
#   decodes far more postings than its share of bytes suggests). Those
#   files are written with 512 KB row groups (LEAF_ROW_GROUP_BYTES)
#   precisely so scans can split them finely: 4 MB scan partitions turn
#   one straggler file into ~dozens of balanced decode tasks.
# - Small run files pack by bytes. Every ``upsert_docs`` appends about
#   ``defaultParallelism`` small blocks files, and each decode task is a
#   Python (``mapInArrow``) task that pays ≈ 110-150 ms before the
#   kernel's first line runs (PythonRunner's INFO log: ``Times: ...
#   init = 145-169`` on Spark 4.1, reused worker, 50 input rows). That
#   floor, not the file open, is the real per-task cost, so the open
#   cost is one row group instead of Spark's 4 MB default. Spark sizes
#   splits as min(4 MB, max(open cost, (bytes + open cost × files) /
#   cores)) and packs files into them: a small multi-run index is read
#   in about ``cores`` tasks, and past 4 MB × cores of (bytes + open
#   cost) about eight small files share each 4 MB split.
#   The open cost is also the smallest split. A split holding no
#   row-group midpoint reads nothing but is still a Python task, so it
#   must not drop below a row group: an open cost of 0 split a fresh
#   single-run index below it (tasks 4 → 5 at 4 cores, 24 → 34 at 32).
#
# NOT session-global: every other table (postings, corpus inputs,
# dedup/pipeline sources) is written with default ~128 MB row groups,
# and 4 MB splits there yield ~31 empty tasks per row group of pure
# scheduler overhead (measured: a 2× regression on build and pipeline
# phases).
INDEX_SCAN_SPLIT_BYTES = 4 * 1024 * 1024


@contextmanager
def index_scan_conf(spark: SparkSession):
    """Scope the index-block scan geometry (``INDEX_SCAN_SPLIT_BYTES``
    rules above) for the duration of a block, then restore.

    Spark resolves scan-partition geometry from the conf active when an
    ACTION plans, not when the DataFrame was defined (verified on 4.1),
    so wrapping just the materialization is sufficient — and returned
    lazy DataFrames planned later are unaffected."""
    conf = {
        "spark.sql.files.maxPartitionBytes": str(INDEX_SCAN_SPLIT_BYTES),
        "spark.sql.files.openCostInBytes": str(LEAF_ROW_GROUP_BYTES),
    }
    old = {k: spark.conf.get(k) for k in conf}  # both keys have defaults
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def get_spark(
    master: str | None = None,
    shuffle_partitions: int | None = None,
    app_name: str = "antidb_spark",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (falling back to
    ``local[*]``); ``shuffle_partitions`` defaults to the core count so
    local shuffles are neither over- nor under-parallelized.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "*"
        shuffle_partitions = os.cpu_count() or 8 if n == "*" else int(n)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 8-12g is the measured sweet spot here: 1g OOMs 32 concurrent
        # tasks, while a 48g heap is 2.6x SLOWER end-to-end (GC ergonomics)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "10g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    """Fully stop the active session so a new master can be used (bench)."""
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    # Clear the cached builder state so getOrCreate() honors a new master.
    SparkSession._instantiatedSession = None  # noqa: SLF001
    SparkSession._activeSession = None  # noqa: SLF001
