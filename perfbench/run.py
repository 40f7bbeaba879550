"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Workloads: ``stream_ingest`` and
``stream_batching`` (see ``BENCHMARK.json`` for why each was chosen, and
``streams.py`` for what they do; each traced run also runs its half of
the corpus probe in ``corpus.py``).

Prints every metric by name with its unit, then, as the last line, one
json object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
they are the per-layer ones, and the spans are written to
``.perfbench_out/trace-<workload>-<seed>.json``.

Everything the run writes stays under the checkout: inputs, Spark's
scratch and checkpoints go to ``.perfbench_work/`` (removed at the end),
traces to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("stream_ingest", "stream_batching")

#: a run that has not finished by then is abandoned, so a hung stream
#: cannot outlive the time a run is allowed
WATCHDOG_S = 160


def metric_units(kind: str) -> dict[str, str]:
    """Name -> unit of the ``end_to_end`` or ``per_layer`` metrics that
    ``BENCHMARK.json`` declares. A traced run reports every per-layer
    metric, 0 for a layer its workload does not use (the stateful
    operators and the near-duplicate kernels on stream_ingest; the
    interceptors, routing and the filtering kernels on stream_batching)."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def _configure_env(work: str) -> None:
    """Before the JVM starts: Python workers must import the package
    from this checkout, and Spark's scratch must stay inside it."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    # the runs hold little data: a 2g driver heap, not get_spark's 8g default
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    sys.path.insert(0, ROOT)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description="atiesh_spark benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "atiesh_spark")):
        print(f"no atiesh_spark package under {ROOT}: run from a full checkout",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _configure_env(work)

    import harness

    def watchdog(signum, frame):
        raise TimeoutError(f"run exceeded {WATCHDOG_S} s")

    signal.signal(signal.SIGALRM, watchdog)
    signal.alarm(WATCHDOG_S)
    tracer = harness.Tracer(enabled=bool(args.trace))
    t0 = time.perf_counter()
    try:
        import streams

        result = streams.run(args.workload, args.seed, args.seconds, work, tracer)
    finally:
        signal.alarm(0)
        harness.stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    wall_s = time.perf_counter() - t0

    attempted, failed = result["attempted"], result["failed"]
    print(f"# {args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace} wall={wall_s:.1f}s")
    units = metric_units("end_to_end")
    for name, value in result["metrics"].items():
        print(f"{name} {value:.6g} {units[name]}")
    print(f"failed_ratio {failed / attempted:.6g} ratio  ({failed} of {attempted})")
    print("info " + json.dumps(result["info"], default=str))

    if args.trace:
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        trace_path = os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json")
        tracer.dump(trace_path)
        print(f"# spans: {len(tracer.spans)} written to {trace_path}")
        units = metric_units("per_layer")
        layers = dict(result["layers"], failed_ratio=failed / attempted)
        metrics = {k: (layers.get(k, 0.0), unit) for k, unit in units.items()}
        for name, (value, unit) in metrics.items():
            print(f"{name} {value:.6g} {unit}")
    else:
        metrics = {k: (result["metrics"][k], unit) for k, unit in units.items()}

    values_ok = all(math.isfinite(v) for v, _ in metrics.values())
    print(json.dumps({
        "correct": failed == 0 and values_ok,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
