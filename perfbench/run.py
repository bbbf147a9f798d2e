"""Tag-job benchmark: one workload per invocation, one JSON result line.

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload tag_refresh --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1     # every workload in turn

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs with
spans around the program's layers and prints the per-layer metrics
instead. The last stdout line is the result
``{"correct", "attempted", "failed", "metrics"}``; the line before it
carries the run's details (nproc, load average at start and end, CPU
steal, wall and CPU seconds of every job, set-up breakdown).
Spans of traced jobs are written under ``.perfbench/spans/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=15)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--tiny", action="store_true",
                   help="self-test sizes: a few thousand users, sf0.001")
    return p.parse_args(argv)


def _run_all(args) -> int:
    """Each workload in its own process, so each starts its own JVM."""
    import workloads

    rc = 0
    for name in workloads.WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)] + (["--tiny"] if args.tiny else [])
        out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, cwd=ROOT)
        last = out.stdout.strip().splitlines()[-1:] or ["{}"]
        print(json.dumps({"workload": name, **json.loads(last[0])}), flush=True)
        rc = rc or out.returncode
    return rc


def main(argv=None) -> int:
    args = _parse(argv)
    if not (os.path.isdir(os.path.join(ROOT, "bigdata_tag_system_spark"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print(f"perfbench: no program to measure next to {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads

    if args.workload == "all":
        return _run_all(args)
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)} or all", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    spans_dir = os.path.join(base, "spans")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(spans_dir, exist_ok=True)
    # one process sized to this box: local[nproc], nproc shuffle partitions
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(work, "tmp")  # memo dirs of queries()
    tempfile.tempdir = None
    try:
        result, detail = workloads.run(args.workload, args.seed, args.seconds,
                                       bool(args.trace), work, spans_dir, args.tiny)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"detail": detail}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
