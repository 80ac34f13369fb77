"""Package shipping and stores: one zip per process and the stores it
builds, all in one scratch dir removed when the process exits."""

import os
import subprocess
import sys
import textwrap

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = textwrap.dedent(
    """
    import sys
    sys.path.insert(0, sys.argv[1])
    import __spark_entry__ as E
    from entity_extractor_by_pointer_spark.session import get_spark

    spark = get_spark(master="local[1]", shuffle_partitions=1)
    assert E._t(spark, sys.argv[2], "region").count() == 5
    assert E._mention_store(spark, sys.argv[2]).count() == 1
    print(len(spark.sparkContext._python_includes))  # zips shipped
    spark.stop()
    """
)


def test_package_zip_is_removed_at_exit(tmp_path):
    """``get_spark`` and the entry module's table reader ship one zip
    between them, and neither the zip nor a store the process built
    outlives it."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tmp = tmp_path / "tmp"
    tmp.mkdir()
    pq.write_table(pa.table({"r_regionkey": list(range(5))}), tmp_path / "region.parquet")
    pq.write_table(pa.table({"doc_id": [0], "text": ["spark"]}), tmp_path / "documents.parquet")
    env = dict(
        os.environ,
        TMPDIR=str(tmp),
        SPARK_LOCAL_DIRS=str(tmp_path / "spark-local"),
        SPARK_DRIVER_MEMORY="1g",
    )
    run = subprocess.run(
        [sys.executable, "-c", _SCRIPT, ROOT, str(tmp_path)],
        env=env, check=True, timeout=300, capture_output=True, text=True,
    )
    assert sorted(p.name for p in tmp.rglob("*.zip")) == []
    assert sorted(p.name for p in tmp.glob("eeps_*")) == []
    assert run.stdout.split()[-1] == "1"


def _load(path):
    import importlib.util

    spec = importlib.util.spec_from_file_location(os.path.basename(path)[:-3], path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_codegen_cache_holds_the_query_mix_working_set(spark, tmp_path):
    """A second pass of the ``kg_query_mix`` queries compiles no generated
    class: the codegen cache holds the whole working set (at Spark's
    default 100 entries, LRU eviction recompiles dozens of classes every
    pass), and the session skips PySpark's per-call call-site capture.

    AQE is off here: it numbers codegen stages in the order concurrent
    stages happen to be planned, and the number is part of the generated
    source, so with AQE a pass recompiles a class now and then whatever the
    cache size. Without it each plan's stage ids are fixed."""
    import numpy as np
    import pyarrow.parquet as pq

    import __spark_entry__ as E
    from entity_extractor_by_pointer_spark.cache import release_all
    from entity_extractor_by_pointer_spark.session import CODEGEN_CACHE_ENTRIES

    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    twin = _load(os.path.join(ROOT, "tools", "gen_scaled_sf.py"))
    mix = _load(os.path.join(ROOT, "perfbench", "workloads.py")).MIX_QUERIES
    pq.write_table(twin.gen_documents(np.random.default_rng(7), 80), tmp_path / "documents.parquet")
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    qs = E.queries()

    def one_pass():
        before = compiles.getCount()
        for name in mix:
            release_all()
            spark.catalog.clearCache()
            qs[name](spark, str(tmp_path)).collect()
        return compiles.getCount() - before

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        assert one_pass() > 0
        assert one_pass() == 0
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_driver_jvm_compiles_with_c1_only_and_a_full_code_cache(spark):
    """The driver JVM runs with ``DRIVER_JAVA_OPTIONS``: JIT tier 1 (C1)
    only, so a run's passes cost the same from the first after warm-up, and
    the 240 MB code cache tiered compilation gets, not C1's 48 MB default,
    which Spark's code overflows into mass flushes and recompiles."""
    from entity_extractor_by_pointer_spark.session import DRIVER_JAVA_OPTIONS

    jvm = spark._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    assert spark.sparkContext.getConf().get("spark.driver.defaultJavaOptions") == DRIVER_JAVA_OPTIONS
    assert bean.getVMOption("TieredStopAtLevel").getValue() == "1"
    assert bean.getVMOption("ReservedCodeCacheSize").getValue() == str(240 * 1024 * 1024)
