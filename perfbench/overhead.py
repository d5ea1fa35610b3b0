"""Tracing overhead: an untraced and a traced run of one workload and seed.

    python3 perfbench/overhead.py --workload tail_serve --seed 1 --seconds 24

Runs ``run.py`` with ``--trace 0`` and then ``--trace 1`` and prints, for
each end-to-end metric the traced run repeats (``traced.<name>``), the
traced value minus the untraced one.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def result(workload: str, seed: int, seconds: int, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        check=True, stdout=subprocess.PIPE, text=True,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])["metrics"]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=24)
    args = ap.parse_args()
    plain = result(args.workload, args.seed, args.seconds, 0)
    traced = result(args.workload, args.seed, args.seconds, 1)
    for name, m in traced.items():
        if name.startswith("traced."):
            base = plain[name.removeprefix("traced.")]["value"]
            print(f"{name.removeprefix('traced.'):24s} untraced={base:.6g} traced={m['value']:.6g} "
                  f"overhead={m['value'] - base:+.6g} {m['unit']}")
    for name in ("trace.spans", "trace.span_cost_us", "trace.overhead_s_est"):
        print(f"{name:24s} {traced[name]['value']:.6g} {traced[name]['unit']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
