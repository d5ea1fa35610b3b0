"""CDC engine benchmark: one command, one workload, one JSON result line.

    python3 perfbench/run.py --workload bulk_replay --seed 1 --seconds 30 --trace 0

Run from the repository root. The engine package is imported from the
working directory; every file the run writes (Spark local dirs, JVM temp
files, feeds, tables) lives under ``.bench_work/`` there and is removed at
the end. Human-readable lines (each metric with its unit and the number of
samples behind it) go to stdout first; the last stdout line is the JSON
result ``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer metrics of a
traced run. Workloads and metrics are described in perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile

ROOT = os.getcwd()
PACKAGE = "postgres_to_snowflake_data_pipeline_spark"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: run from the repository root (no {PACKAGE}/ in {ROOT})", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import workloads  # noqa: E402  (needs the engine on sys.path)

    if args.workload not in workloads.WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2

    # a terminated run still stops Spark and its JVM (the finally blocks run)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # keep the JVM, Spark and Python temp files inside the checkout
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    try:
        result = workloads.run(args.workload, work, args.seed, args.seconds, bool(args.trace))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    for line in result.report_lines():
        print(line)
    print(json.dumps(result.to_json()), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
