#!/usr/bin/env python3
"""Dump the formatted physical plan of named queries() entries to files.

Usage: python tools/dump_one_plan.py <out_dir> <suffix> <query> [query ...]
Writes <out_dir>/<query>_<suffix>.txt for each query.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entry_mod  # noqa: E402
from entity_extractor_by_pointer_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("CHECK_SF_DIR", "/root/testdata/sf0.01")


def main() -> None:
    out_dir, suffix, names = sys.argv[1], sys.argv[2], sys.argv[3:]
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry_mod.queries()
    for name in names:
        df = qs[name](spark, SF_DIR)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(buf.getvalue().strip() + "\n")
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
