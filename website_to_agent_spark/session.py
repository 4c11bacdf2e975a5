"""SparkSession factory tuned for this engine.

Local mode in the sandbox; the same configs are what we'd ship via
``spark-submit --py-files`` to a real cluster (AQE + skew join on,
Arrow on, UTC session TZ for oracle comparability).
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema


def _ensure_worker_pythonpath() -> None:
    """Make the package importable by executor Python workers.

    On a cluster this is ``spark-submit --py-files engine.zip``; in
    local mode the workers are subprocesses that inherit PYTHONPATH, so
    prepend the package's parent dir before the session starts."""
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + existing if existing else "")
        )


def physical_memory_bytes() -> int:
    """Memory this process can use: physical RAM, or the cgroup v2
    ``memory.max`` limit when that is a number and smaller."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    try:
        with open("/sys/fs/cgroup/memory.max") as f:
            limit = f.read().strip()
    except OSError:
        return total
    return min(total, int(limit)) if limit.isdigit() else total


def default_driver_memory() -> str:
    """One third of physical memory, capped at 24g: leaves room for the
    Python workers and the page cache beside the driver JVM."""
    mb = min(physical_memory_bytes() // 3, 24 << 30) >> 20
    return f"{mb >> 10}g" if mb >= 1024 else f"{mb}m"


def get_spark(
    app_name: str = "website_to_agent_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    _ensure_worker_pythonpath()
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
    shuffle_partitions = shuffle_partitions or cores
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # big HTML blobs → keep Arrow batches bounded
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # r6: floor the SCAN parallelism at the core count (guide §6 —
        # "spark.sql.files.minPartitionNum sets a floor on scan
        # parallelism"). A compact parquet (text compresses ~10:1, then
        # explodes 100-1000x into shingles/grams) otherwise reads as
        # ONE split and every downstream map stage — regex scrubs,
        # shingle explodes, Arrow kernels, map-side partial aggs —
        # serializes on one core regardless of cluster size. The floor
        # is derived from the session's core count, and big inputs are
        # untouched (the effective split size is still capped by
        # maxPartitionBytes, so a 100 TB table splits exactly as
        # before). openCostInBytes is lowered in proportion so the
        # floor can actually bite on sub-4MB files; at scale the
        # packing difference only affects directories of tiny files,
        # which this engine's sinks never produce (128MB-1GB targets).
        .config("spark.sql.files.minPartitionNum", str(cores))
        .config("spark.sql.files.openCostInBytes", str(16 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """``rows`` (tuples in the field order of ``schema``, a StructType
    or a DDL string) as a DataFrame planned as a LocalRelation.

    Built through one Arrow table, the frame carries size statistics,
    so joins broadcast it, and reading it runs no Python worker. A list
    handed to ``spark.createDataFrame`` is planned as a scan of a
    Python RDD instead: every job that reads it starts Python tasks
    (about 0.5-0.8 s per job on a 4-core box, against 0.05 s here)."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    names = schema.fieldNames()
    table = pa.Table.from_pylist([dict(zip(names, r)) for r in rows],
                                 schema=to_arrow_schema(schema))
    return spark.createDataFrame(table)
