"""End-to-end and per-layer metrics of one run.

End-to-end metrics come from the untraced timed executions.  Per-layer
metrics come from the traced ones: each is a per-pass figure, the sum
over the workload's queries of that query's median across its traced
executions, so counts repeat exactly when every query's counts do.
A layer a workload does not exercise reports 0.
"""

from __future__ import annotations

import statistics

from perfbench.stats import tail
from perfbench.workloads import MR_LAYER

#: name -> (unit, better); the order is the output order
END_TO_END = {
    "throughput_qpm": ("1/min", "higher"),
    "latency_p50_s": ("s", "lower"),
    "setup_s": ("s", "lower"),
    "peak_mem_mb": ("MB", "lower"),
}

PER_LAYER = {
    "session.start_s": ("s", "lower"),
    "sources.fixture_s": ("s", "lower"),
    "sources.scan_s": ("s", "lower"),
    "sources.scan_drift": ("ratio", "lower"),
    "registry.build_s": ("s", "lower"),
    "registry.build_jobs": ("count", "lower"),
    "registry.driver_idle_s": ("s", "lower"),
    "exec.action_s": ("s", "lower"),
    "exec.jobs": ("count", "lower"),
    "exec.stages": ("count", "lower"),
    "exec.tasks": ("count", "lower"),
    "exec.shuffle_read_bytes": ("bytes", "lower"),
    "exec.shuffle_write_bytes": ("bytes", "lower"),
    "exec.spill_bytes": ("bytes", "lower"),
    "exec.executor_cpu_s": ("s", "lower"),
    "exec.cpu_util": ("ratio", "higher"),
    "plan.exchanges": ("count", "lower"),
    "plan.sorts": ("count", "lower"),
    "plan.windows": ("count", "lower"),
    "plan.python_nodes": ("count", "lower"),
    "plan.cached_relations": ("count", "lower"),
    "mr.flat_map_s": ("s", "lower"),
    "mr.fold_by_key_s": ("s", "lower"),
    "mr.map_reduce_s": ("s", "lower"),
    "mr.combine_ratio": ("ratio", "lower"),
    "llm.index_build_s": ("s", "lower"),
    "llm.index_probe_s": ("s", "lower"),
    "llm.index_disk_bytes": ("bytes", "lower"),
    "llm.jobs_cold": ("count", "lower"),
    "llm.jobs_warm": ("count", "lower"),
    "trace.overhead_frac": ("ratio", "lower"),
}


def _jobs(e) -> int:
    return len(e.build.jobs) + len(e.action.jobs)


def _by_query(execs) -> dict[str, list]:
    out: dict[str, list] = {}
    for e in execs:
        out.setdefault(e.query, []).append(e)
    return out


def _per_pass(groups: dict[str, list], get) -> float:
    return float(sum(statistics.median(get(e) for e in es) for es in groups.values()))


def _cold_warm(b) -> tuple[dict[str, list], dict[str, list]]:
    """Traced executions that built their indexes, and ones that only
    probed them: the set-up build pass and the timed passes on a warm
    workload, the timed passes and their re-probes on a cold one."""
    phases = {"warm": ("build", "timed"), "cold": ("timed", "reprobe")}.get(b.w.isolation)
    if phases is None:
        return {}, {}
    return tuple(
        _by_query(e for e in b.executions if e.phase == p and e.traced) for p in phases
    )


def end_to_end(b) -> tuple[dict[str, float], dict]:
    """The end-to-end metrics, and the latency tail: the highest
    percentile with ten samples above it, None when a run has too few
    samples for a percentile of 90 or more."""
    timed = [e for e in b.executions if e.phase == "timed" and not e.traced]
    lat = [e.latency for e in timed]
    values = {
        "throughput_qpm": 60.0 * sum(e.ok for e in timed) / sum(lat),
        "latency_p50_s": statistics.median(lat),
        "setup_s": sum(b.setup.values()),
        "peak_mem_mb": (max(b.jvm_live) + b.worker_mem) / 2**20,
    }
    return values, {"tail": tail(lat), "samples": len(lat)}


def trace_overhead(b) -> tuple[float, dict[str, float]]:
    """Tracing overhead per pass, from per-query medians: the summed
    median traced latency over the summed median untraced latency, minus
    one; and each query's own ratio minus one, whose scatter (negative
    values included) is the noise in the figure."""
    timed = [e for e in b.executions if e.phase == "timed"]
    med = {
        t: {q: statistics.median(e.latency for e in es)
            for q, es in _by_query(e for e in timed if e.traced == t).items()}
        for t in (False, True)
    }
    per_query = {q: med[True][q] / med[False][q] - 1.0 for q in med[True]}
    return sum(med[True].values()) / sum(med[False].values()) - 1.0, per_query


def per_layer(b) -> dict[str, float]:
    traced = _by_query(e for e in b.executions if e.phase == "timed" and e.traced)
    v = dict.fromkeys(PER_LAYER, 0.0)
    v["session.start_s"] = b.setup["session"]
    v["sources.fixture_s"] = b.setup["fixtures"]
    v["sources.scan_s"] = statistics.median(b.scan_s)
    v["sources.scan_drift"] = (max(b.scan_s) - min(b.scan_s)) / v["sources.scan_s"]

    v["registry.build_s"] = _per_pass(traced, lambda e: e.build_s)
    v["registry.build_jobs"] = _per_pass(traced, lambda e: len(e.build.jobs))
    v["registry.driver_idle_s"] = _per_pass(traced, lambda e: e.idle_s)
    v["exec.action_s"] = _per_pass(traced, lambda e: e.action_s)
    v["exec.jobs"] = _per_pass(traced, lambda e: len(e.action.jobs))
    for k in (
        "stages",
        "tasks",
        "shuffle_read_bytes",
        "shuffle_write_bytes",
        "spill_bytes",
        "executor_cpu_s",
    ):
        v[f"exec.{k}"] = _per_pass(traced, lambda e, k=k: getattr(e.action, k))
    v["exec.cpu_util"] = v["exec.executor_cpu_s"] / (v["exec.action_s"] * b.cores)
    for k in ("exchanges", "sorts", "windows", "python_nodes", "cached_relations"):
        v[f"plan.{k}"] = _per_pass(traced, lambda e, k=k: e.action.plan[k])

    for q, prim in MR_LAYER.items():
        if q in traced:
            v[f"mr.{prim}_s"] = _per_pass({q: traced[q]}, lambda e: e.latency)
    emitted = [e.rows for e in b.executions if e.query == "udtf_flatmap_generator" and e.rows]
    if "mr_pipeline_api" in traced and emitted:
        shuffled = _per_pass(
            {"q": traced["mr_pipeline_api"]}, lambda e: e.action.shuffle_write_records
        )
        v["mr.combine_ratio"] = shuffled / emitted[0]

    cold, warm = _cold_warm(b)
    if cold:
        v["llm.jobs_cold"] = _per_pass(cold, _jobs)
        v["llm.jobs_warm"] = _per_pass(warm, _jobs)
        v["llm.index_probe_s"] = _per_pass(warm, lambda e: e.latency)
        v["llm.index_build_s"] = _per_pass(cold, lambda e: e.latency) - v["llm.index_probe_s"]
        v["llm.index_disk_bytes"] = (
            b.index_disk_bytes
            if b.w.isolation == "warm"
            else _per_pass(cold, lambda e: e.index_bytes)
        )

    v["trace.overhead_frac"] = trace_overhead(b)[0]
    return v


def per_query(b) -> list[str]:
    """One line per query: median latency, the warm-up latency, and when
    traced the build/action split, job counts, and cold against warm."""
    lines = []
    timed = _by_query(e for e in b.executions if e.phase == "timed")
    warmup = _by_query(e for e in b.executions if e.phase == "warmup")
    cold, warm = _cold_warm(b)
    med = statistics.median
    for q in b.w.queries:
        es = timed[q]
        tr = [e for e in es if e.traced]
        line = (
            f"  {q:34s} n={len(es):3d} p50={med(e.latency for e in es):7.3f}s"
            f" warmup={warmup[q][0].latency:6.3f}s"
        )
        if tr:
            line += (
                f" build={med(e.build_s for e in tr):6.3f}s"
                f" action={med(e.action_s for e in tr):6.3f}s"
                f" build_jobs={med(len(e.build.jobs) for e in tr):g}"
                f" action_jobs={med(len(e.action.jobs) for e in tr):g}"
            )
        if q in cold:
            line += (
                f" cold={med(e.latency for e in cold[q]):6.3f}s/{med(_jobs(e) for e in cold[q]):g}jobs"
                f" warm={med(e.latency for e in warm[q]):6.3f}s/{med(_jobs(e) for e in warm[q]):g}jobs"
            )
        lines.append(line)
    return lines
