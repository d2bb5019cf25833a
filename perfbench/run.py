"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository.  Workloads are listed
in ``perfbench/workloads.py``.  The run generates its inputs from the
seed, sets up, measures for ``--seconds`` (rounded up to whole passes over
the workload's queries), checks every query against its DuckDB oracle,
prints a human-readable summary and, as the last line of standard output,
one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1``
the per-layer ones (``perfbench/metrics.py``).  The traced run also writes
its span tree to ``.perfbench_work/traces/``.  Every file the run writes is
under ``.perfbench_work/`` in the checkout.  The exit code is 0 only when
every execution succeeded and matched its oracle.
"""

from __future__ import annotations

import argparse
import atexit
import dataclasses
import importlib.util
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _pin_environment(work: str) -> int:
    """Pin the session to this machine before Spark or any temp file is
    touched; returns the core count."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    # an eighth of the machine, at most 1.5 GiB: the machine is shared
    driver_mb = max(768, min(1536, total_kb // 8 // 1024))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cores),
            "SPARK_DRIVER_MEM": f"{driver_mb}m",
            "SPARK_LOCAL_DIRS": local,
            "TMPDIR": tmp,
            # Python workers import the engine by module path
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
            # every JVM, the spark-submit launcher's too, keeps its
            # temporary files in the checkout
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }
    )
    return cores


def _metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, help="override the star-schema scale factor")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    if importlib.util.find_spec("mapreduceplusplus_spark") is None:
        print(f"perfbench: the engine package is not under {ROOT}", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    base = os.path.join(os.getcwd(), ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-s{args.seed}-p{os.getpid()}")
    os.makedirs(base, exist_ok=True)
    cores = _pin_environment(work)
    # registered before the engine is imported, so it runs after the
    # engine's own exit hooks, which may still write under TMPDIR
    atexit.register(shutil.rmtree, work, ignore_errors=True)

    from perfbench import metrics, stats
    from perfbench.bench import Bench

    workload = WORKLOADS[args.workload]
    if args.sf:
        workload = dataclasses.replace(
            workload, scale=dataclasses.replace(workload.scale, sf=args.sf)
        )
    b = Bench(workload, args.seed, args.seconds, bool(args.trace), work, cores)
    b.run()

    attempted = len(b.executions)
    failed = sum(not e.ok for e in b.executions)
    e2e, info = metrics.end_to_end(b)
    print(f"workload {args.workload} seed {args.seed} cores {cores} "
          f"driver_mem {os.environ['SPARK_DRIVER_MEM']} timed_passes {len(b.pass_wall)}")
    for name, (unit, _) in metrics.END_TO_END.items():
        print(f"  {name:24s} {e2e[name]:14.4f} {unit}")
    print(f"  {'failed_frac':24s} {failed / attempted:14.4f} ratio ({failed} of {attempted})")
    if info["tail"] is None:
        print(f"  {'latency_tail_s':24s} {'unavailable':>14s} ({info['samples']} samples; "
              f"a tail of p{stats.TAIL_MIN_PERCENTILE} or more needs {stats.min_tail_samples()})")
    else:
        p, value, above = info["tail"]
        print(f"  {'latency_tail_s':24s} {value:14.4f} s (p{p} of {info['samples']} samples, "
              f"{above} above it)")
    print(f"  setup: " + " ".join(f"{k}={v:.3f}s" for k, v in b.setup.items()))
    print(f"  sources.scan_s samples: " + " ".join(f"{s:.3f}" for s in b.scan_s))
    print(f"  pass wall: " + " ".join(f"{w:.3f}{'t' if t else ''}" for t, w in b.pass_wall))
    if args.trace:
        layer = metrics.per_layer(b)
        for name, (unit, _) in metrics.PER_LAYER.items():
            print(f"  {name:24s} {layer[name]:16.4f} {unit}")
        print("  trace overhead per query: " + " ".join(
            f"{q}={r:+.3f}" for q, r in sorted(metrics.trace_overhead(b)[1].items())))
        traces = os.path.join(base, "traces")
        os.makedirs(traces, exist_ok=True)
        path = os.path.join(traces, f"{args.workload}-s{args.seed}.jsonl")
        b.tracer.write(path)
        print(f"  spans: {len(b.tracer.spans)} written to {os.path.relpath(path)}")
        chosen = {n: _metric(layer[n], u) for n, (u, _) in metrics.PER_LAYER.items()}
    else:
        chosen = {n: _metric(e2e[n], u) for n, (u, _) in metrics.END_TO_END.items()}
    for line in metrics.per_query(b):
        print(line)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": chosen}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
