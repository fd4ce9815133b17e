"""Pure functions that turn a run's raw record into metrics.

The raw record is the JSON that `perfbench.Harness` writes: setup
timings, one entry per timed query or job, and, for a traced run, the
scheduler's jobs, stages and tasks plus every Dataset action's Catalyst
phase times.
"""
import bisect
import math
import statistics


def interval_union(intervals):
    """Total length covered by a set of [start, end) intervals."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(i for i in intervals if i[1] > i[0]):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def clip(intervals, lo, hi):
    """The parts of `intervals` that fall inside [lo, hi)."""
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


def tail_percentile(n):
    """The highest percentile, at most 95, with at least 10 of `n`
    samples above it; the median when there are fewer than 20."""
    if n < 20:
        return 50.0
    return min(95.0, math.floor(1000.0 * (1.0 - 10.0 / n)) / 10.0)


def percentile(values, p):
    """Linear-interpolated percentile `p` (0-100) of `values`."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def geomean(values):
    return math.exp(sum(math.log(v) for v in values) / len(values))


def timed(raw):
    """The timed runs and passes; the untimed warm runs come first."""
    return ([r for r in raw["runs"] if r["timed"]],
            [p for p in raw["passes"] if p["timed"]])


def duration_s(r):
    return (r["end_ms"] - r["start_ms"]) / 1e3


def pass_walls(runs):
    """Wall time of each timed pass: the sum of its runs' spans, so the
    untimed result checks between queries are left out."""
    walls = {}
    for r in runs:
        walls[r["pass"]] = walls.get(r["pass"], 0.0) + duration_s(r)
    return [walls[p] for p in sorted(walls)]


def latencies(runs):
    """Latency samples: each query's best timed run. A workload of one
    job (word count) has one sample per timed run instead."""
    ok = [r for r in runs if not r.get("error")]
    if len({r["name"] for r in ok}) == 1:
        return [duration_s(r) for r in ok]
    best = {}
    for r in ok:
        best[r["name"]] = min(duration_s(r), best.get(r["name"], float("inf")))
    return list(best.values())


def end_to_end(raw, input_mb):
    """The untraced metrics of one run, plus the details they rest on.

    The pass wall time is the best of the timed passes, and a query's
    latency the best of its timed runs: load from other tenants of the
    host only ever adds time, so the minimum is the steadiest estimate
    of the work itself."""
    runs, _ = timed(raw)
    lat = latencies(runs) or [float("nan")]
    walls = pass_walls(runs)
    wall = min(walls)
    tail_p = tail_percentile(len(lat))
    metrics = {
        "setup_s": statistics.median(s["total_s"] for s in raw["setups"]),
        "wall_s": wall,
        "query_p50_s": percentile(lat, 50),
        "geomean_query_s": geomean(lat),
        "input_mb_s": input_mb / wall,
        "peak_rss_mb": raw["vm_hwm_kb"] / 1024.0,
    }
    details = {"query_tail_s": percentile(lat, tail_p), "tail_percentile": tail_p,
               "latency_samples": len(lat), "pass_walls_s": walls}
    return metrics, details


class RunIndex:
    """Finds the timed run whose span holds a timestamp (runs never
    overlap: the load is one closed-loop client)."""

    def __init__(self, runs):
        self.runs = sorted(runs, key=lambda r: r["start_ms"])
        self.starts = [r["start_ms"] for r in self.runs]

    def find(self, t_ms, until="end_ms"):
        i = bisect.bisect_right(self.starts, t_ms) - 1
        if i >= 0 and t_ms < self.runs[i][until]:
            return self.runs[i]
        return None


def _phase_s(actions, phase, index):
    return sum((a[phase][1] - a[phase][0]) / 1e3 for a in actions
               if a.get(phase) and index.find(a["end_ms"]) is not None)


def per_layer(raw, tokens_mapped=None):
    """The traced run's layer metrics, per timed pass, and the
    "where the time goes" figures behind them. Jobs, tasks and actions
    count when they start inside a timed run's span."""
    tr = raw["trace"]
    f = {name: i for i, name in enumerate(tr["task_fields"])}
    runs, _ = timed(raw)
    n_pass = len({r["pass"] for r in runs})
    index = RunIndex(runs)

    jobs = [j for j in tr["jobs"] if index.find(j["start_ms"]) is not None]
    run_tasks = {}
    for t in tr["tasks"]:
        r = index.find(t[f["launch_ms"]])
        if r is not None:
            run_tasks.setdefault(id(r), []).append(t)
    tasks_in = [t for ts in run_tasks.values() for t in ts]
    stage_tasks = {}
    for t in tasks_in:
        stage_tasks.setdefault(t[f["stage"]], []).append(t)

    def tsum(field, scale=1.0):
        return sum(t[f[field]] for t in tasks_in) * scale / n_pass

    wall = sum(duration_s(r) for r in runs) / n_pass
    busy = sum(interval_union(clip([(t[f["launch_ms"]], t[f["finish_ms"]]) for t in
                                    run_tasks.get(id(r), [])], r["start_ms"], r["end_ms"]))
               for r in runs) / 1e3 / n_pass
    task_wall = sum(t[f["finish_ms"]] - t[f["launch_ms"]] for t in tasks_in) / 1e3 / n_pass

    # plan building: fn time and the jobs it starts, per pass
    fn_s = sum((r["fn_end_ms"] - r["start_ms"]) / 1e3 for r in runs) / n_pass
    fn_jobs = sum(1 for j in jobs if index.find(j["start_ms"], "fn_end_ms") is not None) / n_pass

    # per query: jobs and the widest stage it ran
    run_jobs = {}
    for j in jobs:
        run_jobs.setdefault(id(index.find(j["start_ms"])), []).append(j)
    per_query = []
    for r in runs:
        qstages = [s for j in run_jobs.get(id(r), []) for s in j["stages"]]
        widest = max((len(stage_tasks.get(s, [])) for s in qstages), default=0)
        qtask = sum(t[f["finish_ms"]] - t[f["launch_ms"]] for s in qstages
                    for t in stage_tasks.get(s, [])) / 1e3
        per_query.append({"name": r["name"], "pass": r["pass"], "jobs": len(run_jobs.get(id(r), [])),
                          "widest_stage_tasks": widest, "task_s": qtask,
                          "fn_s": (r["fn_end_ms"] - r["start_ms"]) / 1e3,
                          "wall_s": duration_s(r)})

    scan_stages = {t[f["stage"]] for t in tasks_in if t[f["input_bytes"]] > 0}
    n_stages = len(stage_tasks)
    out_stages = {t[f["stage"]] for t in tasks_in if t[f["output_bytes"]] > 0}
    output_job_s = sum((j["end_ms"] - j["start_ms"]) / 1e3 for j in jobs
                       if out_stages.intersection(j["stages"])) / n_pass
    shuffled = tsum("shuffle_write_records")
    mapped = tokens_mapped if tokens_mapped else tsum("input_records")
    n_queries = len({r["name"] for r in runs})
    m = {
        "tables.resolve_s": statistics.median(s["resolve_s"] for s in raw["setups"]),
        "tables.scan_mb": tsum("input_bytes", 1e-6),
        "tables.scan_tasks_per_stage": (
            sum(len(stage_tasks[s]) for s in scan_stages) / len(scan_stages) if scan_stages else 0.0),
        "plan.fn_s": fn_s,
        "plan.fn_jobs": fn_jobs,
        "catalyst.analysis_s": _phase_s(tr["actions"], "analysis", index) / n_pass,
        "catalyst.optimization_s": _phase_s(tr["actions"], "optimization", index) / n_pass,
        "catalyst.planning_s": _phase_s(tr["actions"], "planning", index) / n_pass,
        "sched.jobs": len(jobs) / n_pass,
        "sched.jobs_per_query": len(jobs) / n_pass / max(1, n_queries),
        "sched.stages": n_stages / n_pass,
        "sched.tasks_per_stage": len(tasks_in) / n_stages if n_stages else 0.0,
        "sched.single_task_queries": sum(1 for q in per_query if q["widest_stage_tasks"] <= 1) / n_pass,
        "sched.no_task_s": wall - busy,
        "sched.no_task_share": (wall - busy) / wall,
        "exec.task_s": tsum("run_ms", 1e-3),
        "exec.cpu_s": tsum("cpu_ns", 1e-9),
        "exec.gc_s": tsum("gc_ms", 1e-3),
        "exec.deser_s": tsum("deser_ms", 1e-3),
        "exec.parallelism": task_wall / wall,
        "shuffle.write_mb": tsum("shuffle_write_bytes", 1e-6),
        "shuffle.read_mb": tsum("shuffle_read_bytes", 1e-6),
        "shuffle.fetch_wait_s": tsum("fetch_wait_ms", 1e-3),
        "shuffle.spill_mb": tsum("spill_bytes", 1e-6),
        "shuffle.combine_ratio": shuffled / mapped if mapped else 0.0,
        "memo.cached_mb_peak": tr["cached_peak_mb"],
        "output.write_mb": tsum("output_bytes", 1e-6),
        "output.job_s": output_job_s,
        "jvm.gc_s": raw["jvm_gc_s"] / n_pass,
        "jvm.heap_peak_mb": raw["heap_peak_mb"],
        "trace.wall_s": min(pass_walls(runs)),
    }
    return m, per_query


def self_times(raw):
    """Self time per span kind and timed pass, from the span tree
    pass > query > {fn, action} > job > stage > task."""
    tr = raw["trace"]
    f = {name: i for i, name in enumerate(tr["task_fields"])}
    stage_iv = {}
    for s in tr["stages"]:
        if s["start_ms"] > 0 and s["end_ms"] > 0:
            stage_iv.setdefault(s["id"], []).append((s["start_ms"], s["end_ms"]))
    task_iv = {}
    for t in tr["tasks"]:
        task_iv.setdefault(t[f["stage"]], []).append((t[f["launch_ms"]], t[f["finish_ms"]]))
    out = {"pass": 0.0, "fn": 0.0, "action": 0.0, "job": 0.0, "stage": 0.0, "task": 0.0}
    jobs = sorted(tr["jobs"], key=lambda j: j["start_ms"])
    job_starts = [j["start_ms"] for j in jobs]
    runs, passes = timed(raw)
    for p in passes:
        out["pass"] += (p["end_ms"] - p["start_ms"] - sum(
            r["end_ms"] - r["start_ms"] for r in runs if r["pass"] == p["pass"])) / 1e3
    for r in runs:
        for kind, s, e in (("fn", r["start_ms"], r["fn_end_ms"]), ("action", r["fn_end_ms"], r["end_ms"])):
            js = jobs[bisect.bisect_left(job_starts, s):bisect.bisect_left(job_starts, e)]
            jiv = [(j["start_ms"], j["end_ms"]) for j in js]
            out[kind] += (e - s - interval_union(clip(jiv, s, e))) / 1e3
            for j in js:
                siv = [iv for sid in j["stages"] for iv in stage_iv.get(sid, [])]
                out["job"] += (j["end_ms"] - j["start_ms"] -
                               interval_union(clip(siv, j["start_ms"], j["end_ms"]))) / 1e3
                for sid in j["stages"]:
                    for ss, se in stage_iv.get(sid, []):
                        covered = interval_union(clip(task_iv.get(sid, []), ss, se)) / 1e3
                        out["stage"] += (se - ss) / 1e3 - covered
                        out["task"] += covered
    n_pass = len({r["pass"] for r in runs})
    return {k: v / n_pass for k, v in out.items()}
