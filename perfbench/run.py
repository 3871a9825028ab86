"""Keyed-table benchmark: one command per workload run.

    python3 perfbench/run.py --workload cow_ingest --seed 1 --seconds 60 --trace 0

Run from the repository root. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` the
per-layer ones, taken by wrapping the library's layer functions from
outside (``perfbench/trace.py``). A line before it records the run
environment. Everything the run writes goes under ``.bench_run/`` (removed
at the end) and, for traced runs, the spans under ``.bench_out/``.

Every run of a workload does the same fixed work (see ``WORKLOADS`` in
``perfbench/workloads.py``), so ``--seconds`` is accepted and not used:
scaling the work with it would change the medians it reports.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=["cow_ingest", "mor_serve"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=["full", "tiny"], default="full",
                   help="tiny is the self-test size")
    p.add_argument("--corrupt-expectation", action="store_true",
                   help="drop one expected row, to prove the gate fails")
    return p.parse_args(argv)


def pin_environment(workdir: str) -> dict:
    """Cores from this machine, a heap that fits it, and fresh scratch
    directories, all set before the JVM starts."""
    cores = len(os.sched_getaffinity(0))
    phys_gb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") / 2**30
    heap = f"{max(1, min(4, int(phys_gb // 4)))}g"
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(workdir, sub))
    tmp = os.path.join(workdir, "tmp")
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": heap,
        "SPARK_LOCAL_DIRS": os.path.join(workdir, "spark-local"),
        "TMPDIR": tmp,
        # every JVM of the run (launcher and driver): temp files in the
        # run directory, and no /tmp/hsperfdata file
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    })
    tempfile.tempdir = tmp
    return {"cores": cores, "driver_heap": heap}


def git_sha() -> str | None:
    """The commit of the checkout, or None when it is not a git work tree
    of its own."""
    try:
        p = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=30)
    except (OSError, subprocess.TimeoutExpired):
        return None
    lines = p.stdout.split()
    if p.returncode != 0 or len(lines) != 2 or os.path.realpath(lines[0]) != os.path.realpath(ROOT):
        return None
    return lines[1]


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    import hudi_utility_spark  # noqa: F401  (fail before writing anything)
    from bench import _spin_marker
    from perfbench.workloads import KeyedRun

    workdir = os.path.join(ROOT, ".bench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        env = pin_environment(workdir)
        run = KeyedRun(args.workload, args.seed, args.trace, args.size,
                       workdir, T_START, corrupt=args.corrupt_expectation)
        res = run.run()
        import pyspark

        # after the run, so that the load probe is not part of setup_s
        env["spin_marker"] = _spin_marker()
        env.update(spark=pyspark.__version__, python=sys.version.split()[0],
                   java=run.java_version, git_sha=git_sha(), workload=args.workload,
                   seed=args.seed, counts=run.counts)
        detail = res.pop("_detail")
        print(json.dumps({"env": env}))
        if args.trace:
            out = os.path.join(ROOT, ".bench_out")
            os.makedirs(out, exist_ok=True)
            run.tracer.dump(os.path.join(out, f"spans-{args.workload}-{args.seed}.json"))
            print(json.dumps({"traced_end_to_end": detail["end_to_end"]}))
        print(json.dumps({k: detail[k] for k in
                          ("failures", "mismatches", "op_seconds", "total_s")}),
              file=sys.stderr)
        print(json.dumps(res), flush=True)
        return 0 if res["correct"] else 1
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(workdir))
        except OSError:  # another run still uses it
            pass


if __name__ == "__main__":
    sys.exit(main())
