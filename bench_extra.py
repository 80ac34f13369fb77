#!/usr/bin/env python3
"""Per-query timing harness for optimization work (bench.py is frozen for
measurement; this file exists so optimization evidence can cite isolated
numbers without touching it).

Mirrors bench.py's methodology — best-of-2 `.count()` per query with the
operator persist-registry and the Spark cache cleared between reps — but
runs only the queries named on the command line, at $SPARK_GRAFT_SF_DIR,
optionally with a noop sink (guide §1.4) instead of count().

Each query reports its best rep: ``s`` (wall), ``build_s`` (DataFrame
construction, including any eager census action the query body runs) and
``codegen_compiles`` (classes Janino compiled during the rep, from Spark's
``CodegenMetrics``), so the fixed per-query driver cost is readable
without a rerun.

Usage:
  SPARK_GRAFT_SF_DIR=/root/testdata/sf1.0 python bench_extra.py q1 q2 ...
  SPARK_GRAFT_SF_DIR=... python bench_extra.py --noop q1 ...
  python bench_extra.py --all            # every bench.py HEADLINE query
"""

from __future__ import annotations

import os

for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_v, "1")

import json  # noqa: E402
import sys  # noqa: E402
import time  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    noop = "--noop" in sys.argv
    reps = int(os.environ.get("BENCH_EXTRA_REPS", "2"))

    import __spark_entry__ as entry_mod
    from bench import HEADLINE
    from entity_extractor_by_pointer_spark.cache import release_all
    from entity_extractor_by_pointer_spark.session import get_spark

    names = HEADLINE if "--all" in sys.argv else args
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="bench_extra")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry_mod.queries()
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    # same warm-up as bench.py: boot python workers before timing
    entry_mod.q_ner_mentions(spark, sf_dir).count()
    out: dict[str, dict] = {}
    for name in names:
        best = None
        for _rep in range(reps):
            release_all()
            spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            c0 = compiles.getCount()
            t0 = time.time()
            df = qs[name](spark, sf_dir)
            built = time.time()
            if noop:
                df.write.format("noop").mode("overwrite").save()
            else:
                df.count()
            rep = {
                "s": round(time.time() - t0, 3),
                "build_s": round(built - t0, 3),
                "codegen_compiles": compiles.getCount() - c0,
            }
            best = rep if best is None or rep["s"] < best["s"] else best
        out[name] = best
        print(f"{name}: {best}", file=sys.stderr)
    total = round(sum(r["s"] for r in out.values()), 2)
    print(json.dumps({"sf_dir": sf_dir, "noop": noop, "queries": out, "total": total}))


if __name__ == "__main__":
    main()
