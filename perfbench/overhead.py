"""Tracing overhead: run one workload untraced and traced on the same
seed and print, for each end-to-end metric, traced minus untraced.

    python3 perfbench/overhead.py --workload stream_ingest --seed 1 --seconds 10

Both runs print every end-to-end metric as a ``<name> <value> <unit>``
line before their final json line; this compares those lines.
"""

from __future__ import annotations

import argparse
import os
import subprocess
import sys

from run import metric_units

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def _metrics(workload: str, seed: int, seconds: float, trace: int) -> dict[str, tuple]:
    out = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, check=True,
    ).stdout
    found, names = {}, metric_units("end_to_end")
    for line in out.splitlines():
        parts = line.split()
        if len(parts) == 3 and parts[0] in names:
            found[parts[0]] = (float(parts[1]), parts[2])
    return found


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    args = ap.parse_args(argv)
    off = _metrics(args.workload, args.seed, args.seconds, 0)
    on = _metrics(args.workload, args.seed, args.seconds, 1)
    for name in metric_units("end_to_end"):
        (a, unit), (b, _) = off[name], on[name]
        print(f"{name} untraced={a:.6g} traced={b:.6g} overhead={b - a:+.6g} {unit}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
