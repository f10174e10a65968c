#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload {build_textdir,index_serve,all}
        --seed N --seconds S --trace {0,1}

Run it from the root of a checkout of the repository. It generates the
workload's inputs from ``--seed`` under ``.perfbench_work/`` (wiped before
and after the run), times the workload's operations on ``local[<nproc>]``
for at least ``--seconds`` seconds and at least the workload's fixed
number of operations, checks the outputs against the DuckDB
twins, and prints one JSON line as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the per-layer ones (see ``BENCHMARK.json`` and ``perfbench/workloads.py``).
The full run record (inputs, calibration, every step, and with tracing
every span) is written to ``.perfbench_out/<workload>-<seed>-trace<t>.json``.
Progress and Spark's own logging go to standard error.

``--workload all`` runs every workload of ``BENCHMARK.json``, one process
each, and prints each metric by name and unit; it exits non-zero if any run
failed or any output check did not pass.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import subprocess
import sys
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")
WORKLOADS = ("build_textdir", "index_serve")


def parse(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(prog="perfbench/run.py", description="TF-IDF engine benchmark")
    p.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env() -> None:
    """Keep every file the run writes inside the checkout, and run the
    engine on all of this host's cores."""
    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("tmp", "spark-local", "models"):
        os.makedirs(os.path.join(WORK, d))
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_MODEL_DIR"] = os.path.join(WORK, "models")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # the JVM spark-submit runs to build the Spark driver's command line
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def run_all(args: argparse.Namespace) -> int:
    """Each workload in its own process, one after the other."""
    ok = True
    for wl in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", wl,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"{wl}: run failed with exit code {proc.returncode}")
            ok = False
            continue
        res = json.loads(lines[-1])
        ok = ok and res["correct"]
        print(f"{wl}: correct={res['correct']} attempted={res['attempted']} failed={res['failed']}")
        for name, m in res["metrics"].items():
            print(f"  {name} {m['value']:.6g} {m['unit']}")
    return 0 if ok else 1


def main(argv: list[str] | None = None) -> int:
    args = parse(argv)
    if not (
        os.path.isdir(os.path.join(ROOT, "tf_idf_mapreduce_spark"))
        and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
        and os.path.isfile(os.path.join(ROOT, "bench.py"))
    ):
        print(
            "perfbench: run from a checkout that holds tf_idf_mapreduce_spark/, "
            "__spark_entry__.py and bench.py",
            file=sys.stderr,
        )
        return 2
    if args.workload == "all":
        return run_all(args)
    prepare_env()
    sys.path.insert(0, ROOT)
    os.chdir(ROOT)
    try:
        with contextlib.redirect_stdout(sys.stderr):
            from perfbench import workloads

            res = workloads.run(
                args.workload, args.seed, args.seconds, bool(args.trace), WORK
            )
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, f"{args.workload}-{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(res.record, f, indent=1, default=str)
    for p in res.record["check_problems"] + res.record["errors"]:
        print(f"perfbench: {p}", file=sys.stderr)
    summary = ", ".join(f"{k}={v:.6g} {u}" for k, (v, u) in res.metrics.items())
    print(
        f"perfbench {args.workload}: failed_frac={res.record['failed_frac']:.4g}; {summary}",
        file=sys.stderr,
    )
    print(
        json.dumps(
            {
                "correct": res.correct,
                "attempted": res.attempted,
                "failed": res.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in res.metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
