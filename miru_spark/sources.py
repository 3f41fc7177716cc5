"""Source readers — Iceberg tables and parquet directories.

The north_rule/input_hint name an Iceberg table of source-code repositories
as the canonical input. Without the Iceberg runtime jar on the classpath,
parquet directories still read (``fmt='parquet'`` or 'auto' on a directory
without ``metadata/``) and an Iceberg read fails loudly; on a real cluster with
``iceberg-spark-runtime-*`` deployed, catalog tables get snapshot isolation,
partition pruning, and metadata-only counts for free — the engine code above
this reader is identical either way (it only ever sees a DataFrame).

Reference parity: the source table plays the WAL role
(miru-api/.../wal/MiruWALClient.java:20-126) — an ordered, replayable log
the build scans in full (rebuild) or sips incrementally (checkpoint
manifests, miru_spark.checkpoint).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def _is_iceberg_path(spark: SparkSession, location: str) -> bool:
    """An Iceberg table directory carries a ``metadata/`` directory beside its
    data; a plain parquet directory does not. Resolved through the Hadoop
    FileSystem, so local and object-store paths answer alike."""
    jvm = spark.sparkContext._jvm
    path = jvm.org.apache.hadoop.fs.Path(location.rstrip("/") + "/metadata")
    fs = path.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs.exists(path) and fs.getFileStatus(path).isDirectory()


def read_source(spark: SparkSession, location: str, fmt: str = "auto") -> DataFrame:
    """Read the activity/source table.

    ``fmt``: 'iceberg' (catalog table name or path), 'parquet' (directory),
    or 'auto' — Iceberg when the location looks like a catalog table
    (contains no '/') or is a directory holding ``metadata/``, else parquet.
    There is no fallback: an Iceberg read that fails (e.g. the runtime jar
    is absent) raises instead of silently reading the data files as parquet.
    """
    if fmt == "parquet":
        return spark.read.parquet(location)
    if fmt == "iceberg":
        return spark.read.format("iceberg").load(location)
    # auto
    looks_like_table = "/" not in location and not location.endswith(".parquet")
    if looks_like_table or _is_iceberg_path(spark, location):
        return spark.read.format("iceberg").load(location)
    return spark.read.parquet(location)
