#!/usr/bin/env python3
"""Repository benchmark: one seeded workload per invocation.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
                             [--size full|tiny]

Run from the repository root. Set-up (session start, input staging, one
warm-up pass) is timed as ``setup_s``; passes then repeat for ``--seconds``
seconds and every operation's output is checked after the timed loop. The
last stdout line is the result record
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end metrics of
``BENCHMARK.json`` with ``--trace 0``, its per-layer metrics with
``--trace 1``. The line before it is a detail record with the host
settings, the per-pass times, every check and the workload-named metrics.
See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
REQUIRED = [
    "BENCHMARK.json",
    "__spark_entry__.py",
    "entity_extractor_by_pointer_spark/__init__.py",
    "tools/check_oracles.py",
    "tools/gen_scaled_sf.py",
]


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full")
    return p.parse_args(argv)


def pin_environment(run_dir: str) -> None:
    """Keep every file the run writes inside ``run_dir`` and pin BLAS to one
    thread per process (the Spark workers are the parallelism)."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {shlex.quote('-Djava.io.tmpdir=' + tmp)}"
        " --conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def start_spark(cpus: int, app: str):
    from entity_extractor_by_pointer_spark.session import get_spark

    spark = get_spark(app_name=app, master=f"local[{cpus}]", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM, then wait until every process the JVM
    started (the Python worker daemon and its workers) has ended."""
    from pyspark import SparkContext

    from probes import descendant_pids

    pids = descendant_pids(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 30
    for pid in pids:
        while time.monotonic() < deadline:
            try:
                os.kill(pid, 0)
            except ProcessLookupError:
                break
            time.sleep(0.05)
        else:
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


def run_pass(wl, meter=None) -> dict:
    """One pass over the workload's operations. Only the operation calls are
    timed; summaries and resets between operations are not."""
    from probes import STAGE_FIELDS, tree_cpu_seconds

    me = os.getpid()
    res = {"wall": 0.0, "cpu": 0.0, "op_wall": {}, "op_spark": {}, "summaries": {}, "errors": {}}
    for label, op in wl.ops():
        wl.before_op()
        cpu = tree_cpu_seconds(me)
        t = time.perf_counter()

        def done():
            res["op_wall"][label] = time.perf_counter() - t
            res["cpu"] += tree_cpu_seconds(me) - cpu

        try:
            if meter is None:
                out = op()
                done()
            else:
                with meter.measure(label) as stages:
                    out = op()
                    done()
                res["op_spark"][label] = stages
            res["summaries"][label] = wl.summarize(label, out)
        except Exception:  # one failed operation must not end the run
            if label not in res["op_wall"]:
                done()
            res["errors"][label] = traceback.format_exc()
            print(res["errors"][label], file=sys.stderr)
        res["wall"] += res["op_wall"][label]
    if meter is not None:
        res["spark"] = {
            k: sum(s[k] for s in res["op_spark"].values()) for k in STAGE_FIELDS
        }
    return res


def check_pass(wl, p: dict) -> dict[str, bool]:
    out = {}
    for label in p["op_wall"]:
        if label in p["errors"]:
            out[label] = False
            continue
        try:
            out[label] = bool(wl.check(label, p["summaries"][label]))
        except Exception:
            print(traceback.format_exc(), file=sys.stderr)
            out[label] = False
    return out


def digest_dir(path: str) -> str:
    """md5 over the data files of a staged input, in file-name order: two
    seeds give different digests exactly when their inputs differ."""
    import hashlib

    h = hashlib.md5()
    for root, dirs, files in sorted(os.walk(path)):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".parquet"):
                with open(os.path.join(root, name), "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def declared_metrics() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = [f for f in REQUIRED if not os.path.exists(os.path.join(ROOT, f))]
    if missing:
        print(f"perfbench: not a checkout of the program, missing {missing}", file=sys.stderr)
        return 2
    spec = declared_metrics()
    workload_names = [w["name"] for w in spec["workloads"]]
    if args.workload not in workload_names:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    cpus = len(os.sched_getaffinity(0))
    run_dir = os.path.join(
        ROOT, ".perfbench_run", f"{args.workload}-s{args.seed}-{os.getpid()}"
    )
    pin_environment(run_dir)
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools"), HERE]
    spark = None
    try:
        from probes import RssSampler, StageMeter
        from workloads import COMPANIONS, WORKLOADS

        t0 = time.perf_counter()
        spark = start_spark(cpus, f"perfbench-{args.workload}")
        session_s = time.perf_counter() - t0
        wl = WORKLOADS[args.workload](
            spark, os.path.join(run_dir, "work"), args.seed, args.size
        )
        wl.stage()
        stage_s = time.perf_counter() - t0 - session_s
        warm = run_pass(wl)
        setup_s = time.perf_counter() - t0

        meter = StageMeter(spark) if args.trace else None
        passes, traced_flags = [], []
        with RssSampler() as rss:
            # passes repeat until their timed operations add up to --seconds;
            # the traced run alternates untraced and traced passes, so the
            # difference of their medians is the tracing overhead
            while sum(p["wall"] for p in passes) < args.seconds or (
                args.trace and len(passes) < 2
            ):
                traced = bool(args.trace) and len(passes) % 2 == 1
                passes.append(run_pass(wl, meter if traced else None))
                traced_flags.append(traced)

        input_digest = digest_dir(wl.input_dir)
        checks = [check_pass(wl, p) for p in passes]
        warm_check = check_pass(wl, warm)

        # a traced run also measures its companions' layers: each is staged,
        # warmed up and run once more, untimed by the end-to-end metrics
        companion_layers, companion_checks = {}, {}
        for name in wl.companions if args.trace else ():
            comp = COMPANIONS[name](spark, os.path.join(run_dir, name), args.seed, args.size)
            comp.stage()
            comp_passes = [run_pass(comp), run_pass(comp)]
            companion_checks[name] = [check_pass(comp, p) for p in comp_passes]
            companion_layers.update(comp.layers(comp_passes[1:]))

        all_checks = checks + [c for cs in companion_checks.values() for c in cs]
        attempted = sum(len(c) for c in all_checks)
        failed = sum(not ok for c in all_checks for ok in c.values())
        correct = failed == 0 and all(warm_check.values())

        plain = [p["wall"] for p, t in zip(passes, traced_flags) if not t]
        traced_passes = [p for p, t in zip(passes, traced_flags) if t]
        pass_s = statistics.median(plain)
        measured = {
            "setup_s": setup_s,
            "pass_s": pass_s,
            "pass_cpu_s": statistics.median(
                p["cpu"] for p, t in zip(passes, traced_flags) if not t
            ),
            "items_per_s": wl.items / pass_s,
            "peak_rss_mb": rss.peak_bytes / 1e6,
        }
        if args.trace:
            from probes import STAGE_FIELDS

            for k in STAGE_FIELDS:
                measured[f"spark.{k}"] = float(
                    statistics.median(p["spark"][k] for p in traced_passes)
                )
            measured["trace_overhead_s"] = (
                statistics.median(p["wall"] for p in traced_passes) - pass_s
            )
            measured.update(wl.layers(traced_passes))
            measured.update(companion_layers)

        kind = "per_layer" if args.trace else "end_to_end"
        owners = {*workload_names, *COMPANIONS}
        mine = {args.workload, *wl.companions}
        metrics = {}
        for m in spec[kind]:
            name = m["name"]
            if name not in measured:
                owner = name.split(".", 1)[0]
                if owner in mine or owner not in owners:
                    raise KeyError(f"metric {name} was not measured")
                measured[name] = 0.0  # a layer this workload never runs
            metrics[name] = {"value": measured[name], "unit": m["unit"]}

        import numpy
        import pyspark

        named = {
            f"{args.workload}.{wl.item}_per_s": measured["items_per_s"],
            f"{args.workload}.{wl.pass_metric}": pass_s,
            f"{args.workload}.peak_rss_mb": measured["peak_rss_mb"],
            f"{args.workload}.failed_frac": failed / attempted,
            "setup_s": setup_s,
        }
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "size": args.size,
            "host": {
                "nproc": cpus,
                "master": f"local[{cpus}]",
                "python": platform.python_version(),
                "pyspark": pyspark.__version__,
                "numpy": numpy.__version__,
                "machine": platform.machine(),
            },
            "setup": {
                "session_s": session_s,
                "stage_s": stage_s,
                "warmup_s": warm["wall"],
                "warmup_op_s": warm["op_wall"],
            },
            "pass_walls": [p["wall"] for p in passes],
            "pass_cpus": [p["cpu"] for p in passes],
            "op_walls": [p["op_wall"] for p in passes],
            "traced": traced_flags,
            "items_per_pass": wl.items,
            "input_digest": input_digest,
            "checks": {"warmup": warm_check, "passes": checks, "companions": companion_checks},
            "named": named,
        }
        print(json.dumps({"detail": detail}))
        print(
            json.dumps(
                {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}
            )
        )
        return 0
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))  # only if no other run is live
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
