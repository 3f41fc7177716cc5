"""SparkSession factory tuned for this engine.

Local-mode settings mirror what a real cluster submit would set per-executor;
`shuffle_partitions` should track total cores (local) or 2-3x total cluster
cores (real deployment). AQE stays on so skewed merges re-plan at runtime —
the (part, term)-hashed pack exchange with per-list ``capacity`` bound
(operators/build.py) handles the first-order skew, AQE catches the residual.

The query and repair paths turn driver-side rows into a relation through
``local_frame``: an Arrow ``LocalRelation``, which runs no Python worker.

In local mode, Python workers import the installed pyspark rather than
Spark's ``pyspark.zip``, because every task's ``importlib.invalidate_caches()``
re-reads the directory of each zip on the worker's path.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

DAEMON_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "daemon")


def package_zip() -> str:
    """Zip the miru_spark package for shipping to executors.

    Equivalent of ``spark-submit --py-files miru_spark.zip`` when the driver
    is launched programmatically; makes UDFs importable on workers no matter
    the caller's cwd.
    """
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    out = os.path.join(tempfile.gettempdir(), "miru_spark_pkg.zip")
    with zipfile.ZipFile(out, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    rel = os.path.join("miru_spark", os.path.relpath(full, pkg_dir))
                    zf.write(full, rel)
    return out


def get_spark(
    app_name: str = "miru_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    if shuffle_partitions is None:
        if master.startswith("local["):
            inner = master[len("local[") : -1]
            shuffle_partitions = os.cpu_count() if inner == "*" else int(inner)
        else:
            shuffle_partitions = 200
    # local-mode shuffles through /tmp disk flatten CPU scaling (measured
    # 2.2× at local[32] just from moving spill/shuffle to tmpfs); a real
    # cluster gets this from NVMe-backed local dirs + netty shuffle.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None and master.startswith("local") and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/spark-local"
        os.makedirs(local_dir, exist_ok=True)
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # wide text rows make Spark's default 10k-record Arrow batches
        # ~130 MB each — humongous G1 allocations that stall the
        # JVM→Python feed pipeline under concurrency (measured 2.2-3.7× on
        # the 500k-doc fused build at local[32] together with 32m regions)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    if os.environ.get("SPARK_GRAFT_PREALLOC") == "1":
        # pre-size and pre-touch the heap: growing a multi-GB heap during
        # the first large job page-faults and full-GCs on the allocation
        # hot path — measured 69.5s → 32.1s on the 100k-doc build at
        # local[32]. On a real cluster the same effect argues for
        # -Xms=-Xmx on executors. Opt-in (bench/scaling) because
        # pre-touching big heaps slows session startup for small tests.
        mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
        builder = builder.config(
            "spark.driver.extraJavaOptions",
            f"-Xms{mem} -XX:+AlwaysPreTouch -XX:G1HeapRegionSize=32m",
        )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    if master.startswith("local"):
        # workers import the installed pyspark instead of Spark's
        # pyspark.zip: see daemon/miru_local_daemon.py. A cluster keeps
        # Spark's default, as its workers may have no installed pyspark.
        builder = builder.config(
            "spark.python.daemon.module", "miru_local_daemon"
        ).config("spark.executorEnv.PYTHONPATH", DAEMON_DIR)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.addPyFile(package_zip())
    return spark


def local_frame(spark: SparkSession, rows, schema: str) -> DataFrame:
    """A DataFrame of the driver-side tuples ``rows``, typed by the DDL
    ``schema`` (every field nullable, as ``createDataFrame(rows, schema)``
    types them), zero rows included.

    The rows travel as one Arrow table, which Spark plans as a JVM
    ``LocalTableScan`` below ``spark.sql.execution.arrowLocalRelationThreshold``
    (48 MB by default): using the relation runs no Python worker.
    ``createDataFrame`` on a Python list instead parallelizes through a
    PythonRDD, one Python task per default-parallelism slice, even for an
    empty list."""
    struct = StructType.fromDDL(schema)
    arrow = to_arrow_schema(struct)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.table(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, struct)
