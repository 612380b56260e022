#!/usr/bin/env python3
"""graft benchmark: one run of one workload, end to end or traced.

    python3 perfbench/run.py --workload batch-analytics --seed 1 --seconds 8 --trace 0

Run from the root of a source checkout. The first run builds the engine
and the harness from source (sbt, offline) into perfbench/target; later
runs reuse the build while the sources are unchanged. Each run clears
perfbench/.work/run, generates the tables from --seed, then starts one JVM
(perfbench.Harness) that sets up, warms and times the workload, checks
every core query's result against DuckDB, and prints one JSON object as
the last line of stdout. Exit status is 0 only when every execution
succeeded, every result is correct and, in a traced run, every traced
execution reconciles with its parts within 10 %. See perfbench/README.md.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import math
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

import check
import gen

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
RUN = os.path.join(WORK, "run")

SF = 0.1
RUN_BUDGET_S = 170
JVM_OPTS = [
    "-Xms3g", "-Xmx3g", "-XX:ReservedCodeCacheSize=1g",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
) for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]

END_TO_END = [
    ("setup_s", "s"), ("query_p50_gmean_s", "s"), ("query_p90_s", "s"),
    ("queries_per_s", "1/s"), ("live_heap_peak_mb", "MB"),
]
KERNELS = ["PositionRecordParse", "OsmNodeParse", "BinaryGpsDecode", "HaversineDist",
           "RayCastContains", "MinHashSig", "WordShingles", "BpePieceCount", "ArrayDot"]
PER_LAYER = [
    ("session.start_s", "s"), ("session.warm_s", "s"),
    ("query.build_s", "s"),
    ("plan.analysis_ms", "ms"), ("plan.optimizer_ms", "ms"), ("plan.physical_ms", "ms"),
    ("codegen.setup_compiles", "count"), ("codegen.setup_compile_ms", "ms"),
    ("codegen.compiles", "count"), ("codegen.compile_ms", "ms"),
    ("sched.jobs", "count"), ("sched.stages", "count"), ("sched.tasks", "count"),
    ("sched.task_overhead_ms", "ms"), ("sched.empty_task_frac", "fraction"),
    ("exec.core_busy_frac", "fraction"),
    ("scan.bytes", "bytes"), ("scan.rows", "count"), ("scan.time_ms", "ms"),
] + [(f"kernel.{k}_ns_per_row", "ns") for k in KERNELS] + [
    ("shuffle.write_bytes", "bytes"), ("shuffle.read_bytes", "bytes"),
    ("shuffle.records", "count"), ("shuffle.write_ms", "ms"),
    ("shuffle.fetch_wait_ms", "ms"), ("mem.spill_bytes", "bytes"), ("gc.ms", "ms"),
    ("stream.batches", "count"), ("stream.batch_p50_ms", "ms"),
    ("stream.batch_p90_ms", "ms"), ("stream.plan_ms", "ms"), ("stream.wal_ms", "ms"),
    ("stream.offsets_ms", "ms"), ("stream.add_batch_ms", "ms"),
    ("stream.commit_ms", "ms"), ("stream.state_commit_ms", "ms"),
    ("stream.state_rows", "count"), ("stream.state_mem_bytes", "bytes"),
    ("sink.bytes_written", "bytes"), ("sink.files_written", "count"),
    ("sink.records_written", "count"),
    ("trace.untraced_queries_per_s", "1/s"), ("trace.traced_queries_per_s", "1/s"),
    ("trace.overhead_frac", "fraction"), ("trace.reconciled_frac", "fraction"),
    ("trace.residual_ms", "ms"),
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_fingerprint():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def harness(classpath, run_dir, workload, seed, seconds, trace, budget_s):
    """Generates the tables from the seed in a fresh run directory, then
    runs perfbench.Harness over them; returns its exit code."""
    shutil.rmtree(run_dir, ignore_errors=True)
    data = os.path.join(run_dir, "data")
    for d in ("data", "results", "tmp", "local", "warehouse"):
        os.makedirs(os.path.join(run_dir, d))
    gen.generate(seed, SF, data)
    local = os.path.join(run_dir, "local")
    env = dict(os.environ, SPARK_GRAFT_LOCAL_DIR=local, SPARK_LOCAL_DIRS=local)
    cmd = ["java", *JVM_OPTS, f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
           "-cp", classpath, "perfbench.Harness",
           "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace), "--data", data, "--work", run_dir,
           "--cores", str(len(os.sched_getaffinity(0)))]
    started = time.time()
    with open(os.path.join(run_dir, "harness.log"), "w") as jvm_log:
        t0_ms = int(time.time() * 1000)
        jvm = subprocess.Popen(cmd + ["--t0-ms", str(t0_ms)], cwd=ROOT, env=env,
                               stdin=subprocess.DEVNULL, stdout=jvm_log, stderr=subprocess.STDOUT)
        try:
            code = jvm.wait(timeout=max(10, budget_s - (time.time() - started)))
        except BaseException:
            jvm.kill()
            jvm.wait()
            raise
        finally:
            reclaim_outside_scratch(jvm.pid, data)
    if code != 0:
        with open(os.path.join(run_dir, "harness.log")) as f:
            sys.stderr.write(f.read()[-4000:])
    return code


def build():
    """Compiles engine + harness once per source state; returns the
    classpath."""
    out = os.path.join(WORK, "build")
    os.makedirs(out, exist_ok=True)
    cp_file, fp_file = os.path.join(out, "classpath.txt"), os.path.join(out, "fingerprint")
    with open(os.path.join(out, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        fp = source_fingerprint()
        if os.path.exists(fp_file) and open(fp_file).read() == fp:
            return open(cp_file).read().strip()
        if os.path.exists(fp_file):
            os.remove(fp_file)
        env = dict(os.environ, COURSIER_MODE="offline")
        log("building engine and harness (sbt compile)")
        t0 = time.time()
        p = subprocess.run(["sbt", "-batch", "-Dsbt.server.forcestart=false",
                            "export Runtime/fullClasspath"],
                           cwd=BENCH, env=env, stdin=subprocess.DEVNULL,
                           capture_output=True, text=True, timeout=600)
        lines = [l for l in p.stdout.splitlines() if l.strip()]
        if p.returncode != 0 or not lines or "scala-library" not in lines[-1]:
            sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
            fail("build failed")
        classpath = lines[-1].strip()
        with open(cp_file, "w") as f:
            f.write(classpath)
        with open(fp_file, "w") as f:
            f.write(fp)
        log(f"compiled in {time.time() - t0:.1f} s")
        return classpath


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except OSError:
        return None


def reclaim_outside_scratch(pid, data_dir):
    """Removes what the engine writes outside the checkout under fixed
    roots (replay checkpoints, shuffle scratch, staged stream slices),
    scoped to this run's JVM and data directory."""
    paths = [os.path.join(r, f"pid-{pid}") for r in (
        "/dev/shm/graft-ckpt", "/dev/shm/graft-local", "/tmp/graft-ckpt")]
    paths += glob.glob(os.path.join("/tmp/graft-stream", re.sub("[^A-Za-z0-9]", "_", data_dir) + "-*"))
    for p in paths:
        shutil.rmtree(p, ignore_errors=True)


def cpu_ticks():
    """(steal, total) jiffies of all CPUs so far, from /proc/stat; zeros
    where the kernel does not report them."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:]]
        return (ticks[7] if len(ticks) > 7 else 0), sum(ticks)
    except (OSError, ValueError):
        return 0, 0


def percentile(xs, q):
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * q
    lo, hi = int(k), min(int(k) + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def reconciliation(h):
    """Per traced execution: build + planning phases + the timed action's
    SQL execution (start to end event) against the execution's wall time.
    The residual is the wall time none of them covers."""
    by_id = {e["exec"]: e for e in h["execs"] if e["traced"]}
    rows = []
    for x in h.get("exec_stats", []):
        e = by_id.get(x["exec"])
        if e is None or not e["ok"]:
            continue
        wall_ms = e["wall_s"] * 1e3
        plan_ms = x["analysis_ms"] + x["optimizer_ms"] + x["physical_ms"]
        sql_ms = x["sql_exec_ms"]
        residual = wall_ms - e["build_s"] * 1e3 - plan_ms - max(sql_ms, 0)
        rows.append({"exec": e["exec"], "query": e["query"], "wall_ms": wall_ms,
                     "build_ms": e["build_s"] * 1e3, "plan_ms": plan_ms,
                     "sql_exec_ms": sql_ms, "jobs_ms": x["write_jobs_ms"],
                     "residual_ms": residual,
                     "reconciled": sql_ms >= 0 and abs(residual) <= 0.1 * wall_ms})
    return rows


def query_p50s(execs):
    """Each query's median wall time over its successful executions, with
    its sample count."""
    by = {}
    for e in execs:
        if e["ok"]:
            by.setdefault(e["query"], []).append(e["wall_s"])
    return {q: (statistics.median(v), len(v)) for q, v in sorted(by.items())}


def end_to_end(h):
    timed = [e for e in h["execs"] if not e["traced"]]
    ok = [e["wall_s"] for e in timed if e["ok"]]
    wall = sum(e["wall_s"] for e in timed)
    p50s = query_p50s(timed)
    m = {
        "setup_s": (h["setup"]["window_start_ms"] - h["setup"]["t0_ms"]) / 1e3,
        # every query weighs alike: a pooled median is the middle query's
        # median and does not move when any other query slows
        "query_p50_gmean_s": (math.exp(mean([math.log(v) for v, _ in p50s.values()]))
                              if p50s else 0.0),
        "query_p90_s": percentile(ok, 0.9),
        "queries_per_s": len(ok) / wall if wall else 0.0,
        "live_heap_peak_mb": h["live_heap"]["mb"],
    }
    counts = {"setup_s": 1, "query_p50_gmean_s": len(ok), "query_p90_s": len(ok),
              "queries_per_s": len(timed), "live_heap_peak_mb": 1}
    return m, counts, p50s


def per_layer(h):
    s, w = h["setup"], h["window"]
    traced = [e for e in h["execs"] if e["traced"]]
    untraced = [e for e in h["execs"] if not e["traced"]]
    by_id = {e["exec"]: e for e in traced}
    st = [x for x in h.get("exec_stats", []) if x["exec"] in by_id]
    n = max(len(traced), 1)

    def per_exec(k):
        return sum(x[k] for x in st) / n

    def qps(es):
        wall = sum(e["wall_s"] for e in es)
        return sum(e["ok"] for e in es) / wall if wall else 0.0

    tasks = sum(x["tasks"] for x in st)
    wall_ms = sum(by_id[x["exec"]]["wall_s"] * 1e3 for x in st)
    rec = reconciliation(h)
    batches = h.get("batches", [])
    dur = [b["durations"] for b in batches]
    traced_passes = [p for p in h["passes"] if p["traced"]]
    m = {
        "session.start_s": (s["session_ready_ms"] - s["t0_ms"]) / 1e3,
        "session.warm_s": (s["window_start_ms"] - s["warm_start_ms"]) / 1e3,
        "query.build_s": mean([e["build_s"] for e in traced]),
        "plan.analysis_ms": per_exec("analysis_ms"),
        "plan.optimizer_ms": per_exec("optimizer_ms"),
        "plan.physical_ms": per_exec("physical_ms"),
        "codegen.setup_compiles": s["codegen_compiles"],
        "codegen.setup_compile_ms": s["codegen_compile_ms"],
        "codegen.compiles": w["codegen_compiles"],
        "codegen.compile_ms": w["codegen_compile_ms"],
        "sched.jobs": per_exec("jobs"), "sched.stages": per_exec("stages"),
        "sched.tasks": per_exec("tasks"),
        "sched.task_overhead_ms": sum(x["task_overhead_ms"] for x in st) / tasks if tasks else 0.0,
        "sched.empty_task_frac": sum(x["empty_tasks"] for x in st) / tasks if tasks else 0.0,
        "exec.core_busy_frac": sum(x["run_time_ms"] for x in st) / (wall_ms * h["cores"]) if wall_ms else 0.0,
        "scan.bytes": per_exec("scan_bytes"), "scan.rows": per_exec("scan_rows"),
        "scan.time_ms": per_exec("scan_time_ms"),
        "shuffle.write_bytes": per_exec("shuffle_write_bytes"),
        "shuffle.read_bytes": per_exec("shuffle_read_bytes"),
        "shuffle.records": per_exec("shuffle_records"),
        "shuffle.write_ms": per_exec("shuffle_write_ms"),
        "shuffle.fetch_wait_ms": per_exec("fetch_wait_ms"),
        "mem.spill_bytes": per_exec("spill_bytes"),
        "gc.ms": sum(p["gc_ms"] for p in traced_passes) / n,
        "stream.batches": len(batches) / n,
        "stream.batch_p50_ms": percentile([d.get("triggerExecution", 0) for d in dur], 0.5),
        "stream.batch_p90_ms": percentile([d.get("triggerExecution", 0) for d in dur], 0.9),
        "stream.plan_ms": mean([d.get("queryPlanning", 0) for d in dur]),
        "stream.wal_ms": mean([d.get("walCommit", 0) for d in dur]),
        "stream.offsets_ms": mean([d.get("latestOffset", 0) + d.get("getBatch", 0) for d in dur]),
        "stream.add_batch_ms": mean([d.get("addBatch", 0) for d in dur]),
        "stream.commit_ms": mean([d.get("commitOffsets", 0) for d in dur]),
        "stream.state_commit_ms": mean([b["state_commit_ms"] for b in batches]),
        "stream.state_rows": max([b["state_rows"] for b in batches], default=0),
        "stream.state_mem_bytes": max([b["state_mem_bytes"] for b in batches], default=0),
        "sink.bytes_written": per_exec("sink_bytes"),
        "sink.files_written": per_exec("sink_files"),
        "sink.records_written": per_exec("sink_records"),
        "trace.untraced_queries_per_s": qps(untraced),
        "trace.traced_queries_per_s": qps(traced),
        "trace.reconciled_frac": mean([r["reconciled"] for r in rec]),
        "trace.residual_ms": statistics.median([r["residual_ms"] for r in rec]) if rec else 0.0,
    }
    m["trace.overhead_frac"] = (m["trace.untraced_queries_per_s"] / m["trace.traced_queries_per_s"] - 1
                                if m["trace.traced_queries_per_s"] else 0.0)
    for k in h["kernels"]:
        m[f"kernel.{k['kernel']}_ns_per_row"] = k["ns_per_row"]
    counts = {"traced_executions": len(traced), "untraced_executions": len(untraced),
              "stream_batches": len(batches)}
    return m, counts, rec


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail(f"no engine sources under {ROOT}/src: run from the root of a graft checkout")
    for tool in ("java", "sbt"):
        if not shutil.which(tool):
            fail(f"'{tool}' not found on PATH")
    if "SPARK_HOME" not in os.environ:
        fail("SPARK_HOME is not set; the build takes Spark's jars from $SPARK_HOME/jars")
    classpath = build()
    started = time.time()  # a first run also builds; the budget is for the run

    steal0, total0 = cpu_ticks()
    code = harness(classpath, RUN, a.workload, a.seed, a.seconds, a.trace,
                   RUN_BUDGET_S - (time.time() - started))
    steal1, total1 = cpu_ticks()
    data = os.path.join(RUN, "data")
    out = os.path.join(RUN, "harness.json")
    if code != 0 or not os.path.exists(out):
        fail(f"harness exited with {code}", 1)
    with open(out) as f:
        h = json.load(f)

    verdict = check.check(data, os.path.join(RUN, "results"), h["core"],
                          h["oracle_sql"], h["audit_floors"])
    wrong = sorted(q for q, v in verdict.items() if v)
    execs = h["warm"] + h["execs"]
    failed = [e for e in execs if not e["ok"]]

    rec, p50s = [], {}
    if a.trace:
        metrics, counts, rec = per_layer(h)
        units = dict(PER_LAYER)
    else:
        metrics, counts, p50s = end_to_end(h)
        units = dict(END_TO_END)
    missing = set(units) - set(metrics)
    if missing:
        fail(f"metrics not produced: {sorted(missing)}", 1)

    provenance = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "nproc": h["cores"], "master": h["master"], "xmx_mb": h["xmx_mb"],
        "jvm_flags": h["jvm_flags"], "java": h["java_version"], "spark": h["spark_version"],
        "spark_conf": h["spark_conf"], "env": h["env"], "sysprops": h["sysprops"],
        "git_commit": git_commit(), "source_sha256": source_fingerprint(),
        # share of CPU time the hypervisor gave to other guests while the
        # JVM ran: a host-wide slowdown shows here, not in the program
        "cpu_steal_frac": (steal1 - steal0) / (total1 - total0) if total1 > total0 else 0.0,
        "families": {k: len(v) for k, v in h["families"].items()}, "core": h["core"],
        "order": [e["query"] for e in h["execs"] if e["pass"] == 1],
    }
    detail = {"provenance": provenance, "metrics": metrics, "counts": counts,
              "verdict": verdict, "failed": failed, "warm": h["warm"],
              "executions": h["execs"], "passes": h["passes"], "kernels": h["kernels"],
              "live_heap": h["live_heap"], "query_p50_s": p50s,
              "reconciliation": rec}
    with open(os.path.join(RUN, "result.json"), "w") as f:
        json.dump(detail, f, indent=1)

    p = provenance
    print(f"workload={a.workload} seed={a.seed} trace={a.trace} nproc={h['cores']} "
          f"master={p['master']} xmx={p['xmx_mb']}MB commit={p['git_commit'] or 'n/a'} "
          f"source={p['source_sha256'][:12]} cpu_steal={p['cpu_steal_frac']:.3f}")
    print(f"families={p['families']} core={','.join(p['core'])}")
    print(f"pass order (seed {a.seed}): {','.join(p['order'])}")
    for q, v in sorted(verdict.items()):
        print(f"check {q}: {'ok' if v is None else 'WRONG: ' + v}")
    for e in failed:
        print(f"failed {e['query']} (pass {e['pass']}): {e['error']}")
    for r in rec:
        print(f"reconcile {r['query']} (exec {r['exec']}): wall {r['wall_ms']:.0f} ms = build "
              f"{r['build_ms']:.0f} + plan {r['plan_ms']:.0f} + sql exec {r['sql_exec_ms']:.0f} "
              f"(jobs {r['jobs_ms']:.0f}) + residual {r['residual_ms']:.0f} "
              f"{'ok' if r['reconciled'] else 'OUTSIDE 10 %'}")
    for k, v in counts.items():
        print(f"samples {k} = {v}")
    for q, (v, n) in p50s.items():
        print(f"query {q}: p50 {v:.6g} s over {n} executions")
    for k, unit in units.items():
        print(f"{k} = {metrics[k]:.6g} {unit}")
    unreconciled = [r for r in rec if not r["reconciled"]]
    print(f"wrong_results = {len(wrong)}  failed_frac = {len(failed) / len(execs):.6g} "
          f"({len(failed)}/{len(execs)})  unreconciled = {len(unreconciled)}/{len(rec)}  "
          f"details: {os.path.relpath(RUN, ROOT)}/result.json")
    correct = not wrong and not failed and not unreconciled
    print(json.dumps({
        "correct": correct,
        "attempted": len(execs),
        "failed": len(failed),
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }), flush=True)
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
