"""Local mimic of the driver's correctness gate: run every queries() entry
on Spark and its oracle_sql() on DuckDB at sf0.01, compare row count, sorted
column names, and an order-insensitive value hash (values rendered with
repr, floats via repr of the double)."""

from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("CHECK_SF_DIR", "/root/testdata/sf0.01")
# DuckDB shares this process with the Spark driver (8g heap, see
# session.get_spark); left at its default (80% of RAM) an expensive oracle
# and the driver together exhaust a 16 GB host. Above the limit DuckDB
# spills to a temp dir in the process's private scratch dir.
DUCKDB_MEMORY_LIMIT = "4GB"


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x1f".join(_render(r[i]) for i in order) for r in rows
    )
    h = hashlib.md5()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


def _render(v) -> str:
    import datetime
    import decimal

    if v is None:
        return "NULL"
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return repr(float(v))
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return str(v)


def main(only: list[str] | None = None) -> int:
    # imported here, so importers of value_hash load neither the entry
    # module nor DuckDB
    import duckdb

    import __spark_entry__ as entry_mod
    from entity_extractor_by_pointer_spark.session import get_spark, scratch_dir
    from entity_extractor_by_pointer_spark.sources.tables import TABLES

    spark = get_spark(master="local[16]")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect(
        config={
            "memory_limit": DUCKDB_MEMORY_LIMIT,
            "temp_directory": os.path.join(scratch_dir(), "duckdb_tmp"),
        }
    )
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error {type(e).__name__}: {e}")
            failures += 1
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error {type(e).__name__}: {e}")
            failures += 1
            continue
        ok_cols = sorted(scols) == sorted(ocols)
        ok_count = len(srows) == len(orows)
        sh = value_hash(scols, srows)
        oh = value_hash(ocols, orows)
        ok_hash = sh == oh
        status = "OK  " if (ok_cols and ok_count and ok_hash) else "FAIL"
        if status == "FAIL":
            failures += 1
        print(
            f"{status}  {name}: spark={len(srows)} duck={len(orows)} cols={'=' if ok_cols else f'{sorted(scols)} vs {sorted(ocols)}'} hash={'=' if ok_hash else 'DIFF'} [{time.time()-t0:.1f}s]"
        )
        if not ok_hash and ok_cols and ok_count and len(srows) <= 100000:
            order = sorted(range(len(scols)), key=lambda i: scols[i])
            sset = sorted("\x1f".join(_render(r[i]) for i in order) for r in srows)
            oorder = sorted(range(len(ocols)), key=lambda i: ocols[i])
            oset = sorted("\x1f".join(_render(r[i]) for i in oorder) for r in orows)
            diffs = [(a, b) for a, b in zip(sset, oset) if a != b][:3]
            for a, b in diffs:
                print(f"      spark: {a!r}")
                print(f"      duck : {b!r}")
    print(f"\n{failures} failures")
    return failures


if __name__ == "__main__":
    sys.exit(1 if main(sys.argv[1:] or None) else 0)
