#!/usr/bin/env python3
"""graft benchmark: one workload, one fresh JVM, one result line.

    python3 perfbench/run.py --workload mr-batch --seed 1 --seconds 18 --trace 0

Builds the engine and the harness from source (build.py), then starts
one JVM with local[nproc/2] that reads the sf0.1 tables in data/ and runs
the workload's query mix from workloads.json as a closed loop: one
set-up (JVM start to the end of table warm-up), one cold pass, an
untimed check pass that fingerprints every query's output against
fingerprints.json and doubles as warm-up, and steady passes for
--seconds. The seed picks the order of each pass; it never changes
which queries a pass runs.

--trace 0 prints the end-to-end metrics; --trace 1 attaches Spark
listeners (src/Tracer.scala) on alternate steady passes and prints the
per-layer metrics, including the tracer's own overhead. The last line
of stdout is the JSON result; the lines above it are the environment
stamp, sample counts and per-query failures. A traced run also writes
its spans to .out/trace-<workload>.json.

--record rewrites the workload's entries in fingerprints.json from the
check pass instead of comparing them; it refuses to record a query
whose check failed with an error.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402

DATA = os.path.join(HERE, "data")
RUNS = os.path.join(HERE, ".runs")
OUT = os.path.join(HERE, ".out")
FINGERPRINTS = os.path.join(HERE, "fingerprints.json")
HEAP = "2g"
JVM_TIMEOUT_S = 170
JDK17_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
               "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
               "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
               "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
               "java.base/sun.nio.cs", "java.base/sun.security.action",
               "java.base/sun.util.calendar"]


def load_manifest():
    with open(os.path.join(HERE, "workloads.json")) as fh:
        return json.load(fh)


def spark_cores():
    """Task slots for local[N]: half the cores the process may run on.
    With one slot per core, JIT compiler and GC threads compete with
    the tasks for the same cores and the timings measure the scheduler;
    the sf0.1 mixes run no faster with more slots."""
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, n // 2)


def loadavg():
    try:
        with open("/proc/loadavg") as fh:
            return " ".join(fh.read().split()[:3])
    except OSError:
        return "n/a"


def clear_stale_runs():
    """Removes run directories whose process is gone."""
    if not os.path.isdir(RUNS):
        return
    for name in os.listdir(RUNS):
        try:
            os.kill(int(name), 0)
            continue
        except (ValueError, ProcessLookupError):
            pass
        except PermissionError:
            continue
        shutil.rmtree(os.path.join(RUNS, name), ignore_errors=True)


def run_jvm(classes, mix, args, ncores, run_dir):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    out = os.path.join(run_dir, "result.json")
    # The parallel collector does no concurrent work between pauses, so
    # GC CPU time follows the garbage a pass makes, not thread timing.
    # The compiler threads stay alive for the whole run so that the
    # harness can subtract their CPU time from cpu_s.
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC",
            f"-XX:ParallelGCThreads={ncores}", "-XX:-UseDynamicNumberOfCompilerThreads",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", build.classpath(classes), "perfbench.Harness", "mode=run",
              f"data={DATA}", f"out={out}", "mix=" + ",".join(mix), f"seed={args.seed}",
              f"seconds={args.seconds}", f"trace={args.trace}", f"cores={ncores}"])
    proc = subprocess.Popen(cmd, cwd=run_dir, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        rc = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"run: the JVM did not finish within {JVM_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if rc != 0:
        raise SystemExit(f"run: the JVM exited with {rc}")
    with open(out) as fh:
        return json.load(fh)


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def union_s(intervals):
    """Length of the union of [start, end] intervals, in seconds (ms in)."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1e3


def self_times(spans):
    """Per span: its duration minus the part its child spans cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                for c in children.get(s["id"], []) if c["end"] > s["start"] and c["start"] < s["end"]]
        out[s["id"]] = (s["end"] - s["start"]) / 1e3 - union_s(kids)
    return out


def query_tail(steady):
    """A run has too few executions for a high percentile to be steady,
    so the tail is each steady pass's slowest execution, median over
    the passes. Returns it and the name of each pass's slowest query."""
    slowest = [max((q["wall_s"], q["name"]) for q in p["queries"]) for p in steady]
    return median([w for w, _ in slowest]), [q for _, q in slowest]


def end_to_end(res, info):
    passes = res["passes"]
    steady = [p for p in passes if p["steady"] and not p["traced"]]
    samples = sorted((q["wall_s"], q["name"]) for p in steady for q in p["queries"])
    execs = [w for w, _ in samples]
    for name in sorted({q["name"] for q in passes[0]["queries"]}):
        mine = [q for p in steady for q in p["queries"] if q["name"] == name]
        info.append(f"query {name}: steady median {median([q['wall_s'] for q in mine]):.3f} s, "
                    f"build {median([q['build_s'] for q in mine]):.3f} s")
    info.append("pass walls (s): " + " ".join(f"{p['wall_s']:.3f}" for p in passes))
    n = len(samples)
    middle = {samples[(n - 1) // 2][1], samples[n // 2][1]}
    tail, slowest = query_tail(steady)
    info.append(f"samples: {len(steady)} steady passes, {n} steady executions; "
                f"query_p50_s falls on {' / '.join(sorted(middle))}")
    info.append(f"unbounded: first_pass_s {passes[0]['wall_s']:.3f} s, query_tail_s {tail:.3f} s "
                f"(slowest per pass: {' '.join(slowest)}); the traced run reports both")
    return {
        "pass_s": (median([p["wall_s"] for p in steady]), "s"),
        "query_p50_s": (median(execs), "s"),
        # Process CPU time without the JIT compiler threads: in a fresh
        # JVM they still compile 1-4 s per pass, a tail that shrinks
        # pass by pass, so with them the figure would follow how many
        # passes fit in the run. jvm.jit_s and first_pass_s show JIT.
        "cpu_s": (median([p["cpu_s"] for p in steady]), "s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
        "setup_s": (res["setup_s"], "s"),
    }


COUNTER_UNITS = {
    "entry.build_jobs": "count", "catalyst.analysis_s": "s", "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.sched_s": "s", "exec.run_s": "s", "exec.cpu_s": "s",
    "exec.gc_s": "s", "exec.task_retries": "count", "scan.bytes": "bytes",
    "scan.rows": "rows", "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
    "shuffle.records": "rows", "shuffle.fetch_wait_s": "s", "spill.bytes": "bytes",
    "memo.relations": "count", "memo.cached_mb": "MB", "stream.batches": "count",
    "stream.input_rows": "rows", "stream.trigger_s": "s", "stream.commit_s": "s",
    "stream.state_rows": "rows", "stream.state_mb": "MB", "sink.bytes": "bytes",
    "sink.rows": "rows",
}


def per_layer(res, ncores, info, trace_path):
    passes = res["passes"]
    traced = [p for p in passes if p["traced"]]
    plain = [p for p in passes if p["steady"] and not p["traced"]]
    spans = [dict(zip(("id", "parent", "name", "query", "start", "end"), s)) for s in res["spans"]]
    selfs = self_times(spans)
    by_parent = {}
    for s in spans:
        by_parent.setdefault(s["parent"], []).append(s)
    pass_spans = [s for s in spans if s["name"] == "pass"]
    out_rows = sum(fp.get("rows", 0) for fp in res["fingerprints"].values())

    rows = []
    for p, ps in zip(traced, pass_spans):
        c = {k: 0.0 for k in COUNTER_UNITS}
        for q in p["queries"]:
            for k, v in q["counters"].items():
                c[k] = c.get(k, 0.0) + v
        queries = by_parent.get(ps["id"], [])
        jobs_of = {q["id"]: [j for ph in by_parent.get(q["id"], [])
                             for j in by_parent.get(ph["id"], []) if j["name"] == "job"]
                   for q in queries}
        span_s = sum(union_s([(j["start"], j["end"]) for j in jobs_of[q["id"]]]) for q in queries)
        wall_q = sum((q["end"] - q["start"]) / 1e3 for q in queries)
        phase_self = {}
        for q in queries:
            for ph in by_parent.get(q["id"], []):
                phase_self[ph["name"]] = phase_self.get(ph["name"], 0.0) + selfs[ph["id"]]
        c.update({
            "entry.build_s": sum(q["build_s"] for q in p["queries"]),
            "entry.build_self_s": phase_self.get("entry.build", 0.0),
            "sink.self_s": phase_self.get("sink", 0.0),
            "exec.busy_frac": c["exec.run_s"] / (p["wall_s"] * ncores),
            "exec.span_s": span_s,
            "driver.no_job_s": wall_q - span_s,
            "scan.rows_per_out_row": c["scan.rows"] / out_rows if out_rows else 0.0,
            "io.write_mb": p["io_write_mb"], "io.read_mb": p["io_read_mb"],
            "jvm.jit_s": p["jit_s"], "jvm.gc_s": p["gc_s"], "jvm.heap_peak_mb": p["heap_peak_mb"],
        })
        rows.append(c)
    units = dict(COUNTER_UNITS, **{
        "entry.build_s": "s", "entry.build_self_s": "s", "sink.self_s": "s",
        "exec.busy_frac": "ratio", "exec.span_s": "s", "driver.no_job_s": "s",
        "scan.rows_per_out_row": "ratio", "io.write_mb": "MB", "io.read_mb": "MB",
        "jvm.jit_s": "s", "jvm.gc_s": "s", "jvm.heap_peak_mb": "MB"})
    metrics = {k: (median([r[k] for r in rows]), u) for k, u in units.items()}
    metrics["jvm.jit_first_pass_s"] = (passes[0]["jit_s"], "s")
    metrics["first_pass_s"] = (passes[0]["wall_s"], "s")
    metrics["query_tail_s"] = (query_tail(plain)[0], "s")
    untraced_pass = median([p["wall_s"] for p in plain])
    metrics["trace.overhead_frac"] = (
        median([p["wall_s"] for p in traced]) / untraced_pass - 1.0, "ratio")
    info.append(f"traced: {len(traced)} traced and {len(plain)} untraced steady passes, "
                f"{len(spans)} spans, written to {os.path.relpath(trace_path, os.getcwd())}")
    os.makedirs(os.path.dirname(trace_path), exist_ok=True)
    with open(trace_path, "w") as fh:
        json.dump({"spans": [dict(s, self_s=selfs[s["id"]]) for s in spans],
                   "passes": passes,
                   "per_pass": rows}, fh)
    return metrics


def check_outputs(res, workload, mix, record, info):
    """Compares the check pass with the committed fingerprints; returns
    the number of failed checks (a mismatch or an exception)."""
    with open(FINGERPRINTS) as fh:
        committed = json.load(fh)
    got = res["fingerprints"]
    if record:
        broken = [q for q in mix if "error" in got[q]]
        if broken:
            raise SystemExit("run: not recording, the check failed for " + ", ".join(broken))
        committed.update({q: got[q] for q in mix})
        with open(FINGERPRINTS, "w") as fh:
            json.dump(dict(sorted(committed.items())), fh, indent=1)
            fh.write("\n")
        info.append(f"recorded {len(mix)} fingerprints for {workload}")
    failed = 0
    for q in mix:
        if got[q] != committed.get(q):
            failed += 1
            info.append(f"FAIL {q}: output {got[q]} != committed {committed.get(q)}")
    return failed


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args()
    manifest = load_manifest()
    if args.workload not in manifest["workloads"]:
        raise SystemExit(f"run: unknown workload {args.workload!r}")
    mix = manifest["workloads"][args.workload]["queries"]

    # A SIGTERM unwinds like an error: the JVM is killed and the run's
    # scratch directory removed by the finally blocks below.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("run: terminated"))
    classes = build.build()
    ncores = spark_cores()
    load_start = loadavg()
    clear_stale_runs()
    run_dir = os.path.join(RUNS, str(os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        res = run_jvm(classes, mix, args, ncores, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        if os.path.isdir(RUNS) and not os.listdir(RUNS):
            os.rmdir(RUNS)

    info = []
    env = res["env"]
    info.append(f"env: nproc={env['nproc']} cores={env['cores']} java={env['java']} "
                f"spark={env['spark']} heap_max_mb={env['heap_max_mb']:.0f} "
                f"workload={args.workload} seed={args.seed} seconds={args.seconds} "
                f"trace={args.trace} loadavg_start={load_start} loadavg_end={loadavg()}")
    timed = [q for p in res["passes"] for q in p["queries"]]
    failed = 0
    for q in timed:
        if q["error"] is not None:
            failed += 1
            info.append(f"FAIL {q['name']}: {q['error']}")
    failed += check_outputs(res, args.workload, mix, args.record, info)
    attempted = len(timed) + len(mix)
    info.append(f"query_fail_frac: {failed / attempted} ({failed} of {attempted} executions "
                f"and checks failed)")
    if args.trace:
        trace_path = os.path.join(OUT, f"trace-{args.workload}.json")
        metrics = per_layer(res, ncores, info, trace_path)
        metrics["query_fail_frac"] = (failed / attempted, "ratio")
    else:
        metrics = end_to_end(res, info)
    for line in info:
        print(line)
    for k, (v, u) in metrics.items():
        print(f"metric {k} = {v} {u}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
