#!/usr/bin/env python3
"""User-API benchmark for graft.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the repository's program and this harness from source (once per
checkout, into .bench_build/), generates the workload's inputs from the
seed, runs the workload in one fresh `local[nproc]` JVM as a closed loop
with one client, checks the outputs, prints every metric by name with its
unit and sample count, and prints one JSON result as the last line.
`--trace 0` reports the end-to-end metrics; `--trace 1` is a separate run
that records spans and Spark listener counts and reports the per-layer
metrics. See README.md.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
from stats import call_layers, median, tail_percentile  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
DEADLINE_S = 170

# Input sizes per workload (see README.md for why).
SIZES = {
    "ts_batch": {"series": 8, "hours": 480, "lstm_series": 1},
    "stream_monitor": {"series": 100, "hours": 24 * 6},
    "curation": {"base_docs": 3000, "exact_groups": 300, "chains": 60, "chain_len": 8,
                 "vectors": 4000, "clusters": 32},
}

# The repository's own call each workload repeats most; `call_p50_ms`
# reports its median latency.
PRIMARY = {"ts_batch": "ts_batch.pca", "stream_monitor": "stream_monitor.batch",
           "curation": "curation.ann"}

JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every file the build reads, so an edited checkout rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            st = os.stat(f)
            h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compiles the program and the harness with sbt (offline) and returns
    the runtime classpath."""
    stamp_file = os.path.join(BUILD, "classpath.json")
    stamp = source_stamp()
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            saved = json.load(f)
        if saved["stamp"] == stamp:
            return saved["classpath"]
    log("building (sbt, offline)")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.log.noformat=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    proc = subprocess.run(["sbt", "-batch", "writeClasspath"], cwd=HERE, env=env,
                          stdout=subprocess.PIPE, stderr=subprocess.STDOUT, timeout=850)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout.decode(errors="replace")[-4000:])
        raise SystemExit("perfbench: build failed")
    with open(os.path.join(HERE, "target", "classpath.txt")) as f:
        classpath = f.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    with open(stamp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": classpath}, f)
    return classpath


def run_jvm(classpath, workload, data, out, seconds, trace, deadline):
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}", f"-Dspark.sql.warehouse.dir={tmp}/warehouse",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + JAVA_OPENS
           + ["-cp", classpath, "perfbench.Main", "--workload", workload, "--data", data,
              "--out", out, "--seconds", str(seconds), "--trace", "1" if trace else "0",
              "--lstm-series", str(SIZES["ts_batch"]["lstm_series"])])
    with open(os.path.join(out, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=out, stdout=logf, stderr=subprocess.STDOUT)
        try:
            proc.wait(timeout=max(10, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    result = os.path.join(out, "result.json")
    if proc.returncode != 0 or not os.path.exists(result):
        with open(os.path.join(out, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        return None
    with open(result) as f:
        return json.load(f)


def timed(calls, name, traced=False):
    return [c["ms"] for c in calls
            if c["call"] == name and c["round"] >= 0 and c["traced"] == traced and c["ok"]]


def round_sums(calls, traced=False):
    """Per timed round, the summed latency of its calls (ms)."""
    sums = {}
    for c in calls:
        if c["round"] >= 0 and c["traced"] == traced:
            sums[c["round"]] = sums.get(c["round"], 0.0) + c["ms"]
    return list(sums.values())


def named_metrics(workload, res):
    """The workload's end-to-end metrics under their user-facing names:
    (name, value, unit, samples, note)."""
    calls = res["calls"]
    out = []

    def lat(name, call, unit, scale, pct=None):
        xs = timed(calls, call)
        if pct is None:
            out.append((name, median(xs) * scale, unit, len(xs), "median"))
            return
        tail = tail_percentile(xs, cap=pct)
        if tail is None:
            out.append((name, float("nan"), unit, len(xs), "too few samples"))
        else:
            p, v, n = tail
            out.append((name, v * scale, unit, n, f"p{p}"))

    if workload == "ts_batch":
        lat("pipeline_pca_s", "ts_batch.pca", "s", 1e-3)
    elif workload == "stream_monitor":
        lat("stream_batch_p50_ms", "stream_monitor.batch", "ms", 1)
        lat("stream_batch_p95_ms", "stream_monitor.batch", "ms", 1, pct=95)
        batches = [c for c in calls if c["round"] >= 0 and not c["traced"]]
        events = sum(c["events"] for c in batches)
        wall = sum(c["ms"] for c in batches) / 1e3
        out.append(("stream_events_per_s", events / wall if wall else float("nan"), "1/s",
                    len(batches), f"{events} events"))
    else:
        lat("dedup_s", "curation.dedup", "s", 1e-3)
        lat("split_s", "curation.split", "s", 1e-3)
        lat("ann_batch_p50_ms", "curation.ann", "ms", 1)
        lat("ann_batch_p90_ms", "curation.ann", "ms", 1, pct=90)
        o = res["outputs"]
        out.append(("ann_recall_at_10", o["recall_hits"] / (o["recall_queries"] * o["k"]),
                    "ratio", o["recall_queries"], "LSH vs brute force"))
    return out


def layer_metrics(workload, res):
    """Per-layer numbers of a traced run: the generic per-round split (the
    JSON metrics) and the named `<workload>.<call>.<metric>` lines."""
    per_call = call_layers(res["trace"])
    keys = ["construct_s", "plan_s", "jobs", "job_s", "driver_gap_s", "task_cpu_s", "gc_s",
            "shuffle_bytes", "codegen_compile_s"]
    rounds = {}
    for c in per_call:
        if c["round"] < 0:
            continue
        r = rounds.setdefault(c["round"], {k: 0 for k in keys})
        for k in keys:
            r[k] += c[k]
    generic = {k: median([r[k] for r in rounds.values()]) for k in keys}
    # Warm calls hit the codegen cache; the compile cost that users pay is
    # the set-up's, so that is the JSON metric.
    generic["codegen_compile_s"] = res["setup_codegen_compile_ns"] / 1e9
    untraced = median(round_sums(res["calls"], traced=False))
    traced = median(round_sums(res["calls"], traced=True))
    generic["trace_overhead"] = traced / untraced
    named = []
    for call in sorted({c["call"] for c in per_call}):
        mine = [c for c in per_call if c["call"] == call]
        for k in ["wall_s", "self_s"] + keys:
            named.append((f"{call}.{k}", median([c[k] for c in mine]), len(mine)))
    layers = dict(res.get("layers", {}))
    # ts_batch's traced run carries the stream replay; stream_monitor's
    # layers are the replay itself.
    stream = layers.pop("stream", None) if workload == "ts_batch" else layers
    if stream is not None and "progress" in stream:
        prog = stream["progress"]
        for k in ("plan_ms", "add_batch_ms", "wal_commit_ms", "commit_offsets_ms",
                  "state_commit_ms", "state_rows", "state_bytes"):
            named.append((f"stream_monitor.progress.{k}", median([p[k] for p in prog]), len(prog)))
        plan = median([p["plan_ms"] for p in prog]) / 1e3
        named = [(n, plan if n == "stream_monitor.batch.plan_s" else v, s) for n, v, s in named]
    if workload != "stream_monitor":
        for k, v in sorted(layers.items()):
            named.append((f"{workload}.{k}", v, 1))
    named.append((f"{workload}.trace_overhead", generic["trace_overhead"], len(rounds)))
    return generic, named


LAYER_UNITS = {"construct_s": "s", "plan_s": "s", "jobs": "count", "job_s": "s",
               "driver_gap_s": "s", "task_cpu_s": "s", "gc_s": "s", "shuffle_bytes": "bytes",
               "codegen_compile_s": "s", "trace_overhead": "ratio"}


def main(argv):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    deadline = time.monotonic() + DEADLINE_S
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        log(f"no program sources next to {os.path.basename(HERE)}/ (expected build.sbt "
            "and src/main/scala/graft at the checkout root)")
        return 2
    classpath = build()
    deadline = max(deadline, time.monotonic() + 150)  # a first build is not run time

    run = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(run, ignore_errors=True)
    data = os.path.join(run, "data")
    truth = gen.generate(a.workload, SIZES[a.workload], a.seed, data)
    res = run_jvm(classpath, a.workload, data, run, a.seconds, a.trace == 1, deadline)
    for scratch in ("data", "tmp", "checkpoint"):  # keep result.json and jvm.log only
        shutil.rmtree(os.path.join(run, scratch), ignore_errors=True)
    if res is None:
        log("the workload did not complete")
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
        return 0

    calls = res["calls"]
    timed_calls = [c for c in calls if c["round"] >= 0]
    if a.workload == "ts_batch":
        results = checks.check_ts_batch(calls, truth)
    elif a.workload == "stream_monitor":
        results = checks.check_stream(res["outputs"])
    else:
        results = checks.check_curation(res["outputs"], truth)
    if a.workload == "ts_batch" and a.trace:
        results += checks.check_stream(res["layers"]["stream"])
    failed_calls = {c["call"] for c in results if not c["ok"]}
    failed = sum(1 for c in timed_calls if not c["ok"] or c["call"] in failed_calls)
    # A failed check on a call outside the timed loop (the traced-only lstm
    # and stream calls) counts as one failed operation.
    failed += len(failed_calls - {c["call"] for c in timed_calls})
    attempted = max(1, len(timed_calls))
    for c in results:
        log(f"check {c['name']}: {'ok' if c['ok'] else 'FAILED'} ({c['detail']})")

    print(f"workload {a.workload} seed {a.seed}: {res['rounds']} rounds, "
          f"{len(timed_calls)} timed calls in {res['timed_ms'] / 1e3:.1f} s")
    untraced = not a.trace
    lines = [("setup_s", res["setup_ms"] / 1e3, "s", 1, "JVM start to warm-up returned"),
             ("error_rate", failed / attempted, "ratio", attempted, f"{failed} failed")]
    if untraced:
        lines += named_metrics(a.workload, res)
    for name, value, unit, n, note in lines:
        print(f"  {name:<24} {value:>14.6g} {unit:<6} n={n:<5} {note}")
    if untraced:
        metrics = {
            "setup_s": (res["setup_ms"] / 1e3, "s"),
            "call_p50_ms": (median(timed(calls, PRIMARY[a.workload])), "ms"),
            "round_s": (median(round_sums(calls)) / 1e3, "s"),
        }
    else:
        generic, named = layer_metrics(a.workload, res)
        for name, value, n in named:
            print(f"  {name:<44} {value:>14.6g} n={n}")
        metrics = {k: (v, LAYER_UNITS[k]) for k, v in generic.items()}
    print(json.dumps({
        "correct": all(c["ok"] for c in results),
        "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
