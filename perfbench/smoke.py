#!/usr/bin/env python3
"""Tiny-size smoke test of the benchmark (about five minutes on 4 cores).

    python3 perfbench/smoke.py

For every workload it makes one untraced and one traced run at ``--size
tiny`` with two different seeds, and checks that:

- both runs pass every output check and their staged inputs differ;
- every metric of ``BENCHMARK.json`` is emitted with its declared unit,
  and the detail record carries the workload-named metrics;
- the ``kg_build.stage.*`` seconds sum to no more than the wall of the
  pipeline run (measured as a companion in the traced ``ner_gp_long`` run);
- ``ner_gp_long`` shuffles nothing (``spark.shuffle_write_bytes == 0``).

Exits 1 and lists the problems if any check fails.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

NAMED = {
    "ner_gp_long": ["ner_gp_long.docs_per_s"],
    "kg_query_mix": ["kg_query_mix.mix_s"],
}


def run(workload: str, seed: int, trace: int) -> tuple[dict, dict]:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"),
        "--workload", workload, "--seed", str(seed), "--seconds", "1",
        "--trace", str(trace), "--size", "tiny",
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd)} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2])["detail"], json.loads(lines[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = []
    for wl in (w["name"] for w in spec["workloads"]):
        details = []
        for seed, trace in ((7, 0), (8, 1)):
            detail, res = run(wl, seed, trace)
            details.append(detail)
            tag = f"{wl} trace={trace}"
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{tag}: result keys {sorted(res)}")
            if not res["correct"] or res["failed"]:
                problems.append(f"{tag}: output checks failed {detail['checks']}")
            kind = "per_layer" if trace else "end_to_end"
            want = {m["name"]: m["unit"] for m in spec[kind]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want:
                problems.append(f"{tag}: metrics differ from BENCHMARK.json: {set(got) ^ set(want)}")
            named = NAMED[wl] + [f"{wl}.peak_rss_mb", f"{wl}.failed_frac", "setup_s"]
            missing = [n for n in named if n not in detail["named"]]
            if missing:
                problems.append(f"{tag}: detail lacks {missing}")
            if not trace:
                continue
            m = {k: v["value"] for k, v in res["metrics"].items()}
            if wl == "ner_gp_long":
                # other_s is the pipeline wall minus the four stage seconds
                if m["kg_build.stage.other_s"] < 0:
                    problems.append(f"{tag}: kg_build stage seconds exceed the pipeline wall")
                if m["spark.shuffle_write_bytes"] != 0:
                    problems.append(f"{tag}: mention stage shuffled {m['spark.shuffle_write_bytes']} B")
        if details[0]["input_digest"] == details[1]["input_digest"]:
            problems.append(f"{wl}: seeds 7 and 8 staged identical inputs")
        print(f"{wl}: done", flush=True)
    for p in problems:
        print("FAIL", p)
    print("smoke OK" if not problems else f"{len(problems)} problems")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
