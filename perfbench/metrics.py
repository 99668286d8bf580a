"""End-to-end and per-layer metric arithmetic over recorded spans."""

from __future__ import annotations

import statistics

from spans import union_s


def sum_of_medians(passes: list[dict[str, float]]) -> float:
    """A warm pass: the sum over ops of each op's median time."""
    ops = passes[0].keys()
    return sum(statistics.median(p[op] for p in passes) for op in ops)


def _jobs(spans):
    return [j for s in spans for j in s.jobs]


def _sum(jobs, key):
    return sum(j.get(key, 0) or 0 for j in jobs)


def _interval_s(jobs) -> float:
    return union_s([(j["start_ms"] / 1e3, j["end_ms"] / 1e3) for j in jobs
                    if j.get("start_ms") and j.get("end_ms")])


def layers(tracer, root, rows: int, cores: int) -> dict[str, float]:
    """Per-layer numbers of one traced pass rooted at ``root``."""
    constructs = tracer.children(root, "construct")
    actions = tracer.children(root, "action")
    assets = tracer.children(root, "asset")
    checks = tracer.children(root, "check")

    # An ETL asset span is its function call (construction) followed
    # by its sink write; jobs before the call returned are eager.
    eager, asset_action = _jobs(constructs), []
    construct_s = sum(s.wall for s in constructs)
    action_s = sum(s.wall for s in actions)
    for s in assets:
        built = s.attrs.get("construct_s", 0.0)
        construct_s += built
        action_s += s.wall - built
        cut = s.epoch_ms + built * 1e3
        for j in s.jobs:
            (eager if j["start_ms"] <= cut else asset_action).append(j)
    action_jobs = _jobs(actions) + asset_action
    every = _jobs(tracer.children(root))
    writes = [j for j in every if j.get("outputBytes", 0) > 0]
    eager_s = _interval_s(eager)
    scan_rows = _sum(every, "inputRecords")
    run_s = _sum(action_jobs, "executorRunTime") / 1e3
    return {
        "plans.construct_s": construct_s,
        "plans.plan_s": construct_s - eager_s,
        "functions.eager_s": eager_s,
        "functions.eager_jobs": len(eager),
        "functions.eager_tasks": _sum(eager, "numTasks"),
        "functions.python_run_s": _sum(every, "python_run_s"),
        "functions.python_start_s": _sum(every, "python_start_s"),
        "functions.python_init_s": _sum(every, "python_init_s"),
        "functions.bytes_to_python": _sum(every, "bytes_to_python"),
        "functions.bytes_from_python": _sum(every, "bytes_from_python"),
        "action.s": action_s,
        "action.jobs": len(action_jobs),
        "action.stages": _sum(action_jobs, "stages"),
        "action.tasks": _sum(action_jobs, "numTasks"),
        "action.executor_run_s": run_s,
        "action.executor_cpu_s": _sum(action_jobs, "executorCpuTime") / 1e9,
        "action.gc_s": _sum(action_jobs, "jvmGcTime") / 1e3,
        "action.core_idle_frac":
            1.0 - run_s / (action_s * cores) if action_s > 0 else 0.0,
        "action.shuffle_read_bytes": _sum(action_jobs, "shuffleReadBytes"),
        "action.shuffle_write_bytes": _sum(action_jobs, "shuffleWriteBytes"),
        "action.spill_bytes": _sum(action_jobs, "diskBytesSpilled"),
        "catalog.scan_rows": scan_rows,
        "catalog.scan_bytes": _sum(every, "inputBytes"),
        "catalog.scan_rows_per_output_row": scan_rows / max(rows, 1),
        "sources.write_s": _interval_s(writes),
        "sources.output_rows": _sum(writes, "outputRecords"),
        "sources.output_bytes": _sum(writes, "outputBytes"),
        "sources.files_written": _sum(every, "files_written"),
        "validate.check_s": sum(s.wall for s in checks),
        "validate.check_jobs": len(_jobs(checks)),
    }


def per_layer(setup: dict, traced: list, untraced_pass_s: float,
              rows: int, cores: int, peak_rss_mb: float) -> dict:
    """Median over traced passes of each layer metric, plus the set-up
    split and the tracing overhead."""
    per_pass = []
    for tracer, root, _times, extra in traced:
        d = layers(tracer, root, rows, cores)
        d.update(extra)
        per_pass.append(d)
    out = {name: statistics.median(d.get(name, 0.0) for d in per_pass)
           for name in set().union(*per_pass)}
    out.update({
        "session.start_s": setup["start_s"],
        "session.warmup_s": setup["warmup_s"],
        "session.peak_rss_mb": peak_rss_mb,
        "trace.overhead_s":
            sum_of_medians([t for _, _, t, _ in traced]) - untraced_pass_s,
    })
    return out
