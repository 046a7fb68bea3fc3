"""KG-build benchmark: one command per workload run.

    python3 perfbench/run.py --workload crawl_build --seed 1 --seconds 1 --trace 0

Run it from the root of a checkout of the repository. It generates the
workload's inputs from the seed, sets up a Spark session fitted to the
machine, measures the workload, checks every output, and prints one JSON
object as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones; with `--trace 1` a
traced run reports the per-layer ones instead and writes its spans to
`.perfbench_work/traces/`. BENCHMARK.json at the repository root lists both,
and perfbench/METRICS.md says what each means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
from time import perf_counter

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPEATS = 5


def _cpu_ticks() -> list[int]:
    """Machine-wide CPU ticks: user nice system idle iowait irq softirq steal."""
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:9]]


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="least time the run measures; units repeat until it has passed")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _setup(engine, inputs, input_dir, event_log):
    """One set-up: write the inputs to parquet and start a Spark session. The
    first set-up of a run launches the JVM; each later one stops the session
    of the one before, outside the timed part, and starts a new session in
    the running JVM. The class loading of the first Spark job is left to the
    work after set-up. Returns (seconds, (ontology_path, batch_paths))."""
    from perfbench.inputs import write_parquet

    engine.stop_context()
    t0 = perf_counter()
    os.makedirs(input_dir)
    paths = write_parquet(inputs, input_dir)
    engine.start(event_log=event_log)
    return perf_counter() - t0, paths


def main(argv=None) -> int:
    args = _parse(argv)
    sys.path.insert(0, REPO_ROOT)
    try:
        import pyspark  # noqa: F401

        from pathhier_spark.plans import pipeline  # noqa: F401
        from perfbench import engine as eng
        from perfbench import workloads as wl
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2
    if args.workload not in wl.SPECS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    base = os.path.join(REPO_ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    os.environ.update(eng.machine_env(REPO_ROOT, work))
    engine = eng.Engine(work)
    cpu_start = _cpu_ticks()
    t_start = perf_counter()
    try:
        # the generator is deterministic, so generating once is enough
        inputs = wl.MAKERS[args.workload](wl.SPECS[args.workload], args.seed)
        generate_s = perf_counter() - t_start
        setups = [
            _setup(
                engine, inputs, os.path.join(work, f"inputs_{i}"),
                event_log=bool(args.trace),
            )
            for i in range(SETUP_REPEATS)
        ]
        onto_path, batch_paths = setups[-1][1]
        ctx = wl.Context(engine, inputs, onto_path, batch_paths, work)
        t_setup = perf_counter()
        measured = getattr(wl, args.workload)(ctx, args.seconds, bool(args.trace))
        t_measure = perf_counter()
    finally:
        engine.stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    ticks = [b - a for a, b in zip(cpu_start, _cpu_ticks())]
    print(
        f"perfbench: set-up {t_setup - t_start:.1f}s (JVM launch "
        f"{setups[0][0]:.1f}s), workload "
        f"{t_measure - t_setup:.1f}s, teardown {perf_counter() - t_measure:.1f}s, "
        f"cpu busy {1 - ticks[3] / sum(ticks):.0%}, stolen {ticks[7] / sum(ticks):.0%}",
        file=sys.stderr,
    )

    if args.trace:
        units = wl.per_layer_units()
        if ctx.trace_json is not None:
            os.makedirs(os.path.join(base, "traces"), exist_ok=True)
            path = os.path.join(base, "traces", f"{args.workload}-{args.seed}.json")
            with open(path, "w") as f:
                f.write(ctx.trace_json)
    else:
        units = wl.END_TO_END_UNITS
        measured["setup_s"] = generate_s + statistics.median(s[0] for s in setups)
    correct = ctx.failed == 0 and ctx.attempted > 0
    result = {
        "correct": correct,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {
            name: {"value": float(measured.get(name, 0.0)), "unit": unit}
            for name, unit in units.items()
        },
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
