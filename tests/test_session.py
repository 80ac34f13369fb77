"""Package shipping: one zip per process, removed when the process exits."""

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
    print(len(spark.sparkContext._python_includes))  # zips shipped
    spark.stop()
    """
)


def test_package_zip_is_removed_at_exit(tmp_path):
    """``get_spark`` and the entry module's table reader ship one zip
    between them, and no zip outlives the process."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    tmp = tmp_path / "tmp"
    tmp.mkdir()
    pq.write_table(pa.table({"r_regionkey": list(range(5))}), tmp_path / "region.parquet")
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
    assert run.stdout.split()[-1] == "1"
