"""SparkSession factory with scale-oriented defaults.

Settings chosen for the 100 TB design point (SURVEY.md §4): AQE on (runtime
coalescing + skew-join splitting), Arrow enabled for every pandas UDF
boundary, bounded Arrow batch sizes so the in-UDF encoder and head tensors
stay within executor memory, and broadcast-join threshold left
to AQE. Shuffle partitions default to the local core count; on a real
cluster this is overridden via spark-submit conf. The codegen cache holds
the queries' whole working set and PySpark's per-call call-site capture is
off, so a query's driver work is paid once per process, not once per run,
and the driver JVM compiles with C1 only, so a run's passes take the same
time from the first on.
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
# Generated-class cache entries (Spark's default is 100). One pass of all
# queries() at sf0.001 compiles 1,026 distinct classes, and the five
# kg_query_mix queries alone 114; at the default size LRU eviction made
# every pass of the mix recompile 59-94 classes in Janino and re-JIT them.
CODEGEN_CACHE_ENTRIES = 2048
# Driver JVM flags: C1 only, with the code cache tiered compilation would
# get (C1 alone defaults to 48 MB, which Spark's code overflows: about 25,000
# methods were flushed and recompiled at once ~40 s into a run). With C2 the
# kg_query_mix passes kept getting faster for minutes (4-vCPU host, 300-doc
# twin: 5.2, 4.6, 4.4, 3.9 ... 3.3 s) while compiler threads took 12 s of CPU
# in the first pass after warm-up; with these flags the passes held at
# 5.0-5.7 s on about 10 s of CPU each. Local mode runs the executors in this
# JVM; on a cluster it only plans. spark.driver.extraJavaOptions comes later
# on the command line, so a user's -XX:TieredStopAtLevel=4 turns C2 back on.
DRIVER_JAVA_OPTIONS = "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m"


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
        # read when the driver JVM is launched, so it only acts on the first session
        .config("spark.driver.defaultJavaOptions", DRIVER_JAVA_OPTIONS)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # a static SQL conf: it only takes effect when the session is built
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        # PySpark otherwise wraps every DataFrame/Column call to record its
        # Python call site (about five Py4J round trips and a stack walk per
        # call). Trade-off: a Spark analysis or runtime error no longer
        # names the Python line that built the failing expression in its
        # "DataFrame" context; errors this package raises are unaffected.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
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
