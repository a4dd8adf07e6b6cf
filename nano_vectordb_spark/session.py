"""SparkSession factory with scale-aware defaults.

Local-mode settings mirror what we would set on a real cluster: AQE on
(runtime re-plan, skew-join handling), shuffle partitions sized to the
parallelism, Arrow enabled for the Pandas-UDF slow path. The package
itself is shipped to the Python workers, so UDFs that reference its
module-level functions run from any working directory.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import zipfile

from pyspark.sql import SparkSession

_PACKAGE_DIR = os.path.dirname(os.path.abspath(__file__))


def _ship_package(sc) -> None:
    """``addPyFile`` a zip of this package, once per SparkContext.
    cloudpickle pickles module-level functions by reference, so a
    worker must import ``nano_vectordb_spark`` itself; without the zip
    that works only when the worker's working directory (the driver's)
    happens to contain the package."""
    if getattr(sc, "_nvdb_package_shipped", False):
        return
    tmp = tempfile.mkdtemp(prefix="nvdb-pyfiles-")
    atexit.register(shutil.rmtree, tmp, True)
    path = os.path.join(tmp, "nano_vectordb_spark.zip")
    root = os.path.dirname(_PACKAGE_DIR)
    with zipfile.ZipFile(path, "w") as zf:
        for d, subdirs, files in os.walk(_PACKAGE_DIR):
            subdirs[:] = [s for s in subdirs if s != "__pycache__"]
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(d, f)
                    zf.write(full, os.path.relpath(full, root))
    sc.addPyFile(path)
    sc._nvdb_package_shipped = True


def get_spark(
    app_name: str = "nano-vectordb-spark",
    cpus: str | int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = cpus if cpus is not None else os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus in ("*", None) else max(int(cpus), 4)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Start every shuffle WIDE and let AQE coalesce using real map
        # output sizes — the cluster-correct default. With the initial
        # number pinned to the (small) shuffle_partitions, a 5M-doc
        # window/aggregate pushes ~400+ MB through each reducer task
        # and the sort spills (measured r12: corpus_clean's md5 window
        # went 7x over linear at 5M docs); wide-then-coalesce keeps
        # per-reducer bytes near the 64 MB advisory at any input scale
        # while small gate queries still collapse to a handful of
        # partitions.
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            os.environ.get("SPARK_GRAFT_INITIAL_SHUFFLE_PARTITIONS", "256"),
        )
        # Let AQE re-plan (and so coalesce) the shuffles that feed
        # CACHED plans too — off by default, which made every persisted
        # frame materialize at the full initialPartitionNum width: the
        # operators' persisted bases (LSH signature/shingle frames,
        # candidate sets) were cached as 256 near-empty partitions and
        # every downstream stage scheduled 256 tasks to read them.
        # Measured at sf0.1 (warm, this flag false -> true):
        # corpus_clean 3.1 -> 1.3 s, minhash_lsh_pairs 0.95 -> 0.24 s,
        # simhash64_pairs 2.9 -> 1.8 s. The trade documented in Spark
        # (output partitioning of a cached plan may change across
        # actions) only affects consumers that rely on cached
        # partitioning alignment, which none of these operators do —
        # all downstream joins/aggregations declare their own keys.
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # bigger Arrow batches amortize the NumPy matmul in the two-phase
        # scan (the mapInPandas analog of the reference's tile loop)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "32768")
        # Parquet TIMESTAMP(NANOS) (events.ts) is otherwise unreadable in
        # Spark; we read it as long and convert in sources.tables
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark.sparkContext)
    return spark
