"""The stock-pipeline benchmark.

    python3 perfbench/run.py --seed N [--workload {backfill,live,serve}] \
        [--seconds S] [--trace {0,1}]

Run from the root of a checkout.  Without ``--workload`` every workload
runs, each in a process of its own, and a table of every workload's
metrics by name and unit is printed.  Inputs are generated from ``--seed``; the
program sees only the generated files.  Every output is checked against a
DuckDB reference.  The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` — with ``--trace 0`` the
end-to-end metrics, with ``--trace 1`` the per-layer metrics of a separate
traced pass (spans are also written to ``.perfbench/out/``).  The line
before it holds the run's details: environment, sample counts, the tail
percentile used and the base of the failure count.

Environment is pinned here: ``SPARK_GRAFT_CPUS`` is the number of CPUs this
process may run on, ``SPARK_GRAFT_DRIVER_MEM`` is 2g, the time zone is UTC,
and every scratch file lives under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import subprocess
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "stockpulse_batch_realtime_etl_spark"
DRIVER_MEM = "2g"
WORKLOAD_NAMES = ("backfill", "live", "serve")


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOAD_NAMES,
                    help="one workload (default: every workload in turn)")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def pin_environment(work: Path) -> None:
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TZ"] = "UTC"
    time.tzset()
    for d in ("tmp", "spark-local"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    tempfile.tempdir = None


def run_all(args) -> int:
    """Every workload in a process of its own; prints each workload's own
    metrics and its ``BENCHMARK.json`` metrics (per-layer ones with
    ``--trace 1``) by name and unit, then one JSON object of all results."""
    results = {}
    status = 0
    for name in WORKLOAD_NAMES:
        out = subprocess.run(
            [sys.executable, __file__, "--workload", name, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True)
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or len(lines) < 2:
            print(f"{name}: failed (exit {out.returncode})")
            status = 1
            continue
        details = json.loads(lines[-2])["details"]
        result = json.loads(lines[-1])
        results[name] = {"result": result, "details": details}
        print(f"{name}: {details['failed_base']}")
        for k, v in {**details["metrics"], **result["metrics"]}.items():
            print(f"  {k:<52} {v['value']:>14.4f} {v['unit']}")
    print(json.dumps(results))
    return status


def main(argv=None) -> int:
    args = parse(argv)
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: no {PACKAGE} package under {ROOT}; "
              "run from the root of a checkout of the repository",
              file=sys.stderr)
        return 2
    if args.workload is None:
        return run_all(args)
    work = ROOT / ".perfbench" / f"work-{args.workload}-{os.getpid()}"
    pin_environment(work)
    sys.path.insert(0, str(ROOT))
    import pyspark

    import workloads

    try:
        result, details = workloads.run(
            args.workload, args.seed, args.seconds, bool(args.trace), work,
            ROOT / ".perfbench" / "out")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    details.update({
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": os.environ["SPARK_GRAFT_CPUS"],
        "driver_mem": DRIVER_MEM, "loadavg": os.getloadavg(),
        "pyspark": pyspark.__version__, "python": platform.python_version(),
    })
    print(json.dumps({"details": details}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
