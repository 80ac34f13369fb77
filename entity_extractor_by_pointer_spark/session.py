"""SparkSession factory with scale-oriented defaults.

Settings chosen for the 100 TB design point (SURVEY.md §4): AQE on (runtime
coalescing + skew-join splitting), Arrow enabled for every pandas UDF
boundary, bounded Arrow batch sizes so the in-UDF encoder and head tensors
stay within executor memory, and broadcast-join threshold left
to AQE. Shuffle partitions default to the local core count; on a real
cluster this is overridden via spark-submit conf.
"""

from __future__ import annotations

import functools
import os

# Best-effort driver-side BLAS pinning (effective if this module is imported
# before numpy's first BLAS init; executors are pinned via executorEnv below).
# Single-threaded BLAS is required for bitwise-reproducible float32 scores —
# the span-parity gate depends on it.
for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_v, "1")

from pyspark.sql import SparkSession  # noqa: E402

# ~256 docs/batch: GP logits are C·L²·8B ≈ 3·200·200·8 ≈ 1 MB/doc at C=3 —
# decoded in-UDF and never serialized, but the batch still bounds peak RSS.
ARROW_BATCH = 256


def get_spark(
    app_name: str = "entity_extractor_by_pointer_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus if cpus.isdigit() else 32)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # one BLAS thread per python worker: the workers ARE the parallelism;
        # nested BLAS threading oversubscribes cores (~1.5× slowdown measured)
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
    )
    spark = builder.getOrCreate()
    _ship_package(spark)
    return spark


_SHIPPED: set[int] = set()


@functools.cache
def scratch_dir() -> str:
    """This process's private scratch dir, made on first use and removed
    when the process exits. It holds the package zip and the entry module's
    stores, so no other process reads or replaces them."""
    import atexit
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix="eeps_")
    atexit.register(shutil.rmtree, tmp, True)
    return tmp


@functools.cache
def _package_zip() -> str:
    """Zip this package once per process into ``scratch_dir`` (Spark fetches
    the zip lazily, so it must outlive every SparkContext it was added to)."""
    import shutil

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    return shutil.make_archive(
        os.path.join(scratch_dir(), "eeps_pkg"),
        "zip",
        root_dir=os.path.dirname(pkg_dir),
        base_dir=os.path.basename(pkg_dir),
    )


def _ship_package(spark: SparkSession) -> None:
    """addPyFile this package so executor python workers can unpickle our
    UDF closures regardless of the driver process CWD (the in-repo analog
    of spark-submit --py-files). Idempotent per SparkContext."""
    key = id(spark.sparkContext)
    if key in _SHIPPED:
        return
    spark.sparkContext.addPyFile(_package_zip())
    _SHIPPED.add(key)
