#!/usr/bin/env python3
"""Benchmark of the vote stream and the query battery.

    python3 perfbench/run.py --workload WORKLOAD --seed N --seconds S --trace 0|1

Run it from the root of the repository. WORKLOAD is one of

  vote_live       open loop: VoteGenerator events through the reference
                  topology at a fixed rate; latency is per-event freshness
  query_battery   closed loop, one client: a fixed selection of
                  SparkEntry.queries; latency is per query

The first run builds the harness together with the program's sources
(sbt, perfbench/build.sbt); later runs reuse that build while the sources
are unchanged. Spark runs on local[nproc] in one JVM.

With --trace 0 the last line of output is a JSON object holding the
end-to-end metrics. A latency tail is the highest percentile with at least
ten samples beyond it. With --trace 1 it holds the per-layer
metrics of a traced measurement run between two untraced ones, and the
tracing overhead against them. Per-layer times and counts are means per
unit of work (a query, or a micro-batch); jvm.* are ms per second. The
lines before it print every metric by name and unit. Outputs are checked
after the timed part; `correct` is false when a check fails.

    python3 perfbench/run.py --record-hashes

runs query_battery once and pins its result hashes in battery_hashes.json.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
HASHES = os.path.join(HERE, "battery_hashes.json")
WORKLOADS = ("vote_live", "query_battery")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
JVM_OPTS = [
    "-Xmx2g", "-XX:-UsePerfData", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
] + [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar",
) for a in ("--add-opens", "java.base/%s=ALL-UNNAMED" % p)]

# Query-name prefix -> the battery (operator family) it belongs to.
BATTERIES = {"gr": "gr", "dd": "dd", "sim": "sim", "vec": "sim", "cur": "cur", "corp": "cur",
             "mm": "mm", "txt": "txt", "tx": "tx"}
BATTERY_NAMES = ("gr", "dd", "sim", "cur", "mm", "txt", "tx", "rel")
STREAM_PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(1)


# ---------------------------------------------------------------- build

def build():
    """Compile the harness and the program; return the JVM classpath."""
    scala = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(os.path.join(scala, "graft")):
        fail("no program sources under %s; run from the repository root" % scala)
    files = sorted(glob.glob(os.path.join(scala, "**", "*.scala"), recursive=True) +
                   glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True) +
                   [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")])
    digest = hashlib.sha256()
    for f in files:
        digest.update(f.encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = os.path.join(STATE, "build.stamp")
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    os.makedirs(STATE, exist_ok=True)
    if os.path.exists(cp_file) and os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return open(cp_file).read().strip()
    log = os.path.join(STATE, "build.log")
    tmp = os.path.join(STATE, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    if "SPARK_HOME" not in os.environ and shutil.which("spark-submit"):
        # build.sbt takes Spark's jars from SPARK_HOME, as the root build does
        os.environ["SPARK_HOME"] = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    with open(log, "w") as out:
        code = run_process(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                            "-Djava.io.tmpdir=" + tmp, "writeClasspath"], HERE, out, BUILD_TIMEOUT_S)
    if code != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail("build failed (exit %s), log in %s" % (code, log))
    with open(stamp, "w") as fh:
        fh.write(digest.hexdigest())
    return open(cp_file).read().strip()


def run_process(cmd, cwd, out, timeout):
    """Run cmd in its own process group; kill the group on timeout.
    Returns the exit code, or None after a timeout."""
    proc = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT, start_new_session=True)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def measure(cp, workload, seed, seconds, trace):
    """Run the harness JVM once; return its raw result."""
    work = os.path.join(STATE, "run-%d" % os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    out = os.path.join(work, "result.json")
    log = os.path.join(STATE, "last-%s.log" % workload)
    cmd = ["java"] + JVM_OPTS + [
        "-Djava.io.tmpdir=" + tmp, "-Dderby.system.home=" + work,
        "-Dderby.stream.error.file=" + os.path.join(work, "derby.log"),
        "-cp", cp, "perfbench.Main", "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", "1" if trace else "0", "--work", work, "--out", out]
    try:
        with open(log, "w") as fh:
            code = run_process(cmd, ROOT, fh, RUN_TIMEOUT_S)
        if code != 0 or not os.path.exists(out):
            sys.stderr.write(open(log).read()[-4000:])
            fail("harness %s (exit %s), log in %s" % (
                "timed out" if code is None else "failed", code, log))
        shutil.copy(out, os.path.join(STATE, "last-%s.json" % workload))
        with open(out) as fh:
            return json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)


# ---------------------------------------------------------------- metrics

def operations(res, phase):
    """Latencies (ms) of the workload's successful operations in one
    phase, plus attempted and failed counts and work per second."""
    p = res["phases"][phase]
    if res["workload"] == "vote_live":
        fresh, missed, last = stats.freshness(p, res["batches"])
        span_s = max(last - p["t0_ms"], 1.0) / 1000.0
        return fresh, p["count"], missed, (p["count"] - missed) / span_s
    ms = [m for _, m in p["query_ms"]]
    return ms, p["attempted"], p["failed"], len(ms) / p["seconds"]


def end_to_end(res):
    lat, attempted, failed, rate = operations(res, "main")
    med, tail_p, tail, n = stats.summary(lat)
    setup = res["session_s"] + statistics.median(res["setup_reps_s"])
    if res["workload"] == "query_battery":
        setup += sum(res["warm_ms"].values()) / 1000.0
    metrics = {
        "setup_s": (setup, "s"),
        "latency_p50_ms": (med, "ms"),
        "latency_tail_ms": (tail, "ms"),
        "throughput_per_s": (rate, "1/s"),
        "heap_live_mb": (res["heap_live_mb"], "MB"),
    }
    # the same numbers under the names a reader of this workload uses
    w = res["workload"]
    err = failed / attempted
    if w == "vote_live":
        named = [("freshness_p50_ms", med, "ms"), ("freshness_p%d_ms" % tail_p, tail, "ms")]
    else:
        named = [("battery_s", statistics.median(res["phases"]["main"]["pass_ms"]) / 1000.0, "s"),
                 ("query_p50_ms", med, "ms"), ("query_p%d_ms" % tail_p, tail, "ms")]
    named += [("setup_s", setup, "s"), ("error_rate", err, "ratio"), ("heap_live_mb", res["heap_live_mb"], "MB")]
    note = "%s: %d operations, %d failed; latency tail is p%d of %d samples; nproc %d, seed %d" % (
        w, attempted, failed, tail_p, n, res["nproc"], res["seed"])
    return metrics, named, note, attempted, failed


def group_of(query):
    return BATTERIES.get(query.split("_")[0].rstrip("0123456789"), "rel")


def per_layer(res):
    """Per-layer metrics of the traced phase; a layer the workload does
    not exercise reads 0."""
    w = res["workload"]
    tr = res["trace"]
    phase = res["phases"]["traced"]
    lo, hi = tr["from_ns"], tr["until_ns"]
    wall_ms = (hi - lo) / 1e6
    spans = tr["spans"]  # [name, tag, start_ns, end_ns]
    jobs = tr["jobs"]  # start_ns, end_ns, job group
    stages = tr["stages"]  # wall, tasks, run, cpu, shR, shW, spill, fetchWait
    m = {}

    def mean(xs):
        return sum(xs) / len(xs) if xs else 0.0

    # the workload's unit of work: a query, or a micro-batch
    data_batches = []
    for q, bs in res.get("batches", {}).items():
        for b in bs:
            start_ns = b["start_ms"] * 1e6
            if b["rows"] > 0 and lo <= start_ns <= hi:
                data_batches.append((q, b))
    # (start, end, the jobs it ran): one client runs the queries one by
    # one; the streaming queries run at once, each in its own job group
    if w == "query_battery":
        units = [(s[2], s[3], jobs) for s in spans if s[0] == "query"]
    else:
        group_jobs = {q: [j for j in jobs if j[2] == run] for q, run in res["run_ids"].items()}
        units = [(b["start_ms"] * 1e6, (b["start_ms"] + b["dur"].get("triggerExecution", 0)) * 1e6,
                  group_jobs[q]) for q, b in data_batches]
    ops = max(len(units), 1)

    plan = tr["planning"]
    m["catalyst.analysis_ms"] = (sum(p[0] for p in plan) / ops, "ms")
    m["catalyst.optimization_ms"] = (sum(p[1] for p in plan) / ops, "ms")
    m["catalyst.planning_ms"] = (sum(p[2] for p in plan) / ops, "ms")
    m["codegen.compile_ms"] = (tr["codegen_ms"] / ops, "ms")
    m["codegen.compiles"] = (tr["codegen_compiles"] / ops, "count")
    m["exec.driver_gap_ms"] = (mean([stats.self_time((s, e), [j[:2] for j in js])
                                     for s, e, js in units]) / 1e6, "ms")
    m["exec.jobs"] = (len(jobs) / ops, "count")
    m["exec.stages"] = (len(stages) / ops, "count")
    m["exec.tasks"] = (sum(s[1] for s in stages) / ops, "count")
    m["exec.stage_wall_ms"] = (sum(s[0] for s in stages) / ops, "ms")
    m["exec.task_cpu_ms"] = (sum(s[3] for s in stages) / ops, "ms")
    m["exec.serial_stage_ms"] = (sum(s[0] for s in stages if s[1] == 1) / ops, "ms")
    m["exec.core_busy_ratio"] = (sum(s[2] for s in stages) / (res["nproc"] * wall_ms), "ratio")
    m["shuffle.read_bytes"] = (sum(s[4] for s in stages) / ops, "bytes")
    m["shuffle.write_bytes"] = (sum(s[5] for s in stages) / ops, "bytes")
    m["shuffle.spill_bytes"] = (sum(s[6] for s in stages) / ops, "bytes")
    m["shuffle.fetch_wait_ms"] = (sum(s[7] for s in stages) / ops, "ms")

    def span_ms(name, group=None):
        return mean([(s[3] - s[2]) / 1e6 for s in spans
                     if s[0] == name and (group is None or group_of(s[1]) == group)])

    for g in BATTERY_NAMES:
        m["battery.%s_ms" % g] = (span_ms("query", g), "ms")
    m["SparkEntry.build_ms"] = (span_ms("build"), "ms")
    m["GraftCatalog.resolve_ms"] = (mean([(s[3] - s[2]) / 1e6 for s in spans
                                          if s[0] == "build" and s[1].startswith("tx_catalog_")]), "ms")
    excess = 0.0
    if w == "query_battery":
        timed = {}
        for q, ms in res["phases"]["main"]["query_ms"]:
            timed.setdefault(q, []).append(ms)
        excess = mean([res["warm_ms"][q] - statistics.median(v) for q, v in timed.items()])
    m["SparkEntry.first_pass_excess_ms"] = (excess, "ms")

    bs = [b for _, b in data_batches]
    for ph in STREAM_PHASES:
        m["stream.%s_ms" % ph] = (mean([b["dur"].get(ph, 0) for b in bs]), "ms")
    triggers = [b["dur"].get("triggerExecution", 0) for b in bs]
    m["stream.trigger_p50_ms"] = (statistics.median(triggers) if triggers else 0.0, "ms")
    m["stream.trigger_tail_ms"] = (stats.summary(triggers)[2] if triggers else 0.0, "ms")
    m["stream.rows_per_batch"] = (mean([b["rows"] for b in bs]), "count")
    m["stream.batches"] = (len(bs), "count")
    last = {}
    for q, b in data_batches:
        if q not in last or b["id"] > last[q]["id"]:
            last[q] = b
    m["state.rows"] = (sum(b["state"][0] for b in last.values()), "count")
    m["state.memory_bytes"] = (sum(b["state"][1] for b in last.values()), "bytes")
    m["state.commit_ms"] = (mean([b["state"][2] for b in bs]), "ms")
    m["state.partitions"] = (sum(b["state"][3] for b in last.values()), "count")

    m["jvm.gc_ms"] = (tr["gc_ms"] / (wall_ms / 1000.0), "ms/s")
    m["jvm.jit_ms"] = (tr["jit_ms"] / (wall_ms / 1000.0), "ms/s")
    late = phase.get("late_ms", [])
    m["loadgen.late_tail_ms"] = (stats.summary(late)[2] if late else 0.0, "ms")
    m["loadgen.events"] = (phase.get("count", 0) if w == "vote_live" else 0, "count")

    # against the untraced phases before and after, so that warming up
    # during the run does not read as overhead
    untraced = statistics.mean(statistics.median(operations(res, p)[0]) for p in ("main", "after"))
    traced = statistics.median(operations(res, "traced")[0])
    m["trace.overhead_pct"] = ((traced / untraced - 1.0) * 100.0, "%")
    return m


def checks(res):
    """Name -> passed, for every output check of the run."""
    out = dict(res.get("checks", {}))
    if res["workload"] == "query_battery":
        pinned = {}
        if os.path.exists(HASHES):
            with open(HASHES) as fh:
                pinned = json.load(fh)
        for q, h in res["hashes"].items():
            out["%s result hash" % q] = pinned.get(q) == h
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-hashes", action="store_true")
    a = ap.parse_args()
    # on SIGTERM, unwind so that run_process stops the JVM it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cp = build()
    if a.record_hashes:
        res = measure(cp, "query_battery", a.seed, a.seconds, False)
        with open(HASHES, "w") as fh:
            json.dump(res["hashes"], fh, indent=1, sort_keys=True)
            fh.write("\n")
        print("pinned %d result hashes in %s" % (len(res["hashes"]), HASHES))
        return
    if not a.workload:
        ap.error("--workload is required")
    res = measure(cp, a.workload, a.seed, a.seconds, a.trace == 1)
    e2e, named, note, attempted, failed = end_to_end(res)
    for name, value, unit in named:
        print("%-24s %14.4f %s" % (name, value, unit))
    print(note)
    ok = checks(res)
    for name, passed in sorted(ok.items()):
        print("check %-44s %s" % (name, "ok" if passed else "FAILED"))
    metrics = per_layer(res) if a.trace else e2e
    if a.trace:
        for name, (value, unit) in metrics.items():
            print("%-36s %16.4f %s" % (name, value, unit))
    print(json.dumps({
        "correct": bool(ok) and all(ok.values()),
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
