"""Statistics and trace arithmetic for the benchmark report."""

import math
import statistics


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def tail_percentile(xs, cap=99):
    """The highest whole percentile (at most `cap`) that has at least ten
    samples beyond it, by the nearest-rank rule. Returns (p, value, n), or
    None when there are fewer than 20 samples (not even the median has ten
    beyond it)."""
    n = len(xs)
    s = sorted(xs)
    for p in range(cap, 49, -1):
        rank = math.ceil(p / 100 * n)
        if rank >= 1 and n - rank >= 10:
            return p, s[rank - 1], n
    return None


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_start, cur_end = 0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_time(span, children):
    """A span's duration minus the part of its interval that its children
    cover (children clipped to the span, overlaps counted once)."""
    start, end = span
    clipped = [(max(s, start), min(e, end)) for s, e in children]
    return (end - start) - union_length([(s, e) for s, e in clipped if e > s])


def call_layers(trace):
    """Per top-level span (one user call) of a traced run: its engine split.

    Spark jobs are given to the call whose span was open when the job
    started (the client is one closed loop, so at most one call is open).
    Job times are milliseconds from the scheduler; span times microseconds.
    Returns a list of dicts with the call name, its request id and seconds
    / counts per layer."""
    spans = trace["spans"]
    calls = [s for s in spans if s["parent"] == -1]
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    starts = [c["start_us"] for c in calls]
    jobs_of = {c["id"]: [] for c in calls}
    for job in trace["jobs"]:
        if job["end_ms"] < 0:
            continue
        t = job["start_ms"] * 1000
        owner = None
        for c, start in zip(calls, starts):
            if start <= t + 999 and t <= c["end_us"]:
                owner = c
        if owner is not None:
            jobs_of[owner["id"]].append(job)
    out = []
    for c in calls:
        dur_us = c["end_us"] - c["start_us"]
        jobs = jobs_of[c["id"]]
        job_us = union_length([(max(j["start_ms"] * 1000, c["start_us"]),
                                min(j["end_ms"] * 1000, c["end_us"])) for j in jobs
                               if min(j["end_ms"] * 1000, c["end_us"])
                               > max(j["start_ms"] * 1000, c["start_us"])])
        kids = {k["name"]: k for k in children.get(c["id"], [])}
        construct = kids.get("construct")
        out.append({
            "call": c["name"], "request": c["request"], "round": c["attrs"].get("round", -1),
            "wall_s": dur_us / 1e6,
            "construct_s": (construct["end_us"] - construct["start_us"]) / 1e6 if construct else 0.0,
            "plan_s": c["attrs"].get("plan_ms", 0) / 1e3,
            "jobs": len(jobs),
            "job_s": job_us / 1e6,
            "driver_gap_s": (dur_us - job_us) / 1e6,
            "task_cpu_s": sum(j["cpu_ns"] for j in jobs) / 1e9,
            "gc_s": c["attrs"].get("gc_ms", 0) / 1e3,
            "shuffle_bytes": sum(j["shuffle_bytes"] for j in jobs),
            "codegen_compile_s": c["attrs"].get("codegen_compile_ns", 0) / 1e9,
            "self_s": self_time((c["start_us"], c["end_us"]),
                                [(k["start_us"], k["end_us"]) for k in kids.values()]) / 1e6,
        })
    return out
