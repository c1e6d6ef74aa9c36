#!/usr/bin/env python3
"""Benchmark of the ADS-B ingest and the analytics query mix.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: ingest_batch, ingest_stream, analytics (see perfbench/README.md).

A run builds the program from source with sbt (offline, into
perfbench/target) when the checkout has no build yet or its sources changed
since the last one. Each run then generates its inputs from
the seed, starts one JVM that drives the program's public entry points,
checks the outputs, and prints one JSON object as the last line of
stdout. With --trace 0 it holds the end-to-end metrics of
BENCHMARK.json, with --trace 1 the per-layer ones. The exit code is
non-zero when the program cannot be built or an output check fails.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402
import oracle  # noqa: E402

CLASSPATH_FILE = os.path.join(HERE, "target", "perfbench-classpath.json")
ARCHIVE_FILE = os.path.join(HERE, "target", "perfbench-classes.jsa")
JVM_TIMEOUT_S = 165
# Stream open loop: drop period in wall time. Not a multiple of the 1 s
# trigger, so the chunk-to-trigger phase sweeps over a run.
PERIOD_MS = 290
BACKLOG_CHUNKS = 80
# The set-up runs the query's first trigger over WARM_CHUNKS chunks, then
# SETUP_TRIGGERS triggers of one chunk each; the open loop's first RAMP_MS
# of chunks then bring it to its trigger rhythm. Neither counts towards the
# lag.
WARM_CHUNKS = 8
SETUP_TRIGGERS = 3
RAMP_MS = 2000

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

# End-to-end metrics by their name on each workload.
NAMED = {
    "ingest_batch": {"throughput": ("batch_msgs_per_s", "msg/s"),
                     "latency_p50_ms": ("chain_p50_ms", "ms"),
                     "latency_p90_ms": ("chain_p90_ms", "ms")},
    "ingest_stream": {"throughput": ("catchup_msgs_per_s", "msg/s"),
                      "latency_p50_ms": ("commit_lag_p50_ms", "ms"),
                      "latency_p90_ms": ("commit_lag_p90_ms", "ms"),
                      "commit_lag_p95_ms": ("commit_lag_p95_ms", "ms")},
    "analytics": {"throughput": ("queries_per_s", "1/s"),
                  "latency_p50_ms": ("query_p50_ms", "ms"),
                  "latency_p90_ms": ("query_p90_ms", "ms")},
}


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def source_digest():
    """Hash of every file the build compiles or packages: the program's
    src/main, the harness and the build definition."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs
            if not d.startswith(os.path.join(HERE, "project", "target"))
            and not d.startswith(os.path.join(HERE, "project", "project")))
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode() + b"\0")
            with open(p, "rb") as f:
                h.update(f.read())
            h.update(b"\0")
    return h.hexdigest()


def build():
    """Compile the program and the harness; return the runtime classpath.

    The classpath is cached together with the digest of the sources it
    was built from, and sbt compiles again (incrementally) whenever the
    sources differ, so a run always measures the code in the checkout."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise RuntimeError("program sources not found next to perfbench/")
    digest = source_digest()
    try:
        with open(CLASSPATH_FILE) as f:
            cached = json.load(f)
        if cached.get("digest") == digest:
            return cached["classpath"]
    except (OSError, ValueError):
        pass
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true",
            "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append("-Dsbt.repository.config=" + repos)
    env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(os.path.join(HERE, "target"), exist_ok=True)
    log_path = os.path.join(HERE, "target", "build.log")
    with open(log_path, "w") as out:
        r = subprocess.run(["sbt", "-batch", "compile",
                            "export Runtime/fullClasspath"], cwd=HERE,
                           env=env, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL)
    with open(log_path) as f:
        lines = [l.strip() for l in f if l.strip()]
    cps = [l for l in lines if "perfbench" in l and ":" in l
           and not l.startswith("[")]
    if r.returncode != 0 or not cps:
        raise RuntimeError("build failed, see " + log_path)
    write_archive(cps[-1])
    with open(CLASSPATH_FILE, "w") as f:
        json.dump({"digest": digest, "classpath": cps[-1]}, f)
    return cps[-1]


def generate(workload, seed, seconds, input_dir):
    """Write the run's inputs; return (generator params, JVM arguments)."""
    if workload == "ingest_batch":
        p = gen.write_batch(input_dir, seed)
        args = ["--expect-lines", p["lines"],
                "--expect-rejected", p["malformed_lines"],
                "--expect-landings", p["golden_landings"],
                "--expect-takeoffs", p["golden_takeoffs"]]
    elif workload == "ingest_stream":
        ramp = (WARM_CHUNKS + SETUP_TRIGGERS
                + math.ceil(RAMP_MS / PERIOD_MS))
        live = ramp + math.ceil(seconds * 1000 / PERIOD_MS)
        p = gen.write_stream(input_dir, seed, live, BACKLOG_CHUNKS)
        p["period_ms"] = PERIOD_MS
        args = ["--warm-chunks", WARM_CHUNKS,
                "--setup-triggers", SETUP_TRIGGERS, "--ramp-chunks", ramp,
                "--live-chunks", live, "--backlog-chunks", BACKLOG_CHUNKS,
                "--period-ms", PERIOD_MS,
                "--chunk-lines", ",".join(map(str, p["chunk_lines"])),
                "--expect-rejected", p["malformed_lines"]]
    elif workload == "analytics":
        p = gen.write_tables(os.path.join(input_dir, "tables"), seed)
        args = []
    else:
        raise ValueError("unknown workload " + workload)
    return p, [str(a) for a in args]


def jvm_options(tmp):
    opts = ["-Xms3g", "-Xmx3g", "-Xmn1g", "-Djava.io.tmpdir=" + tmp,
            "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        opts += ["--add-opens", p + "=ALL-UNNAMED"]
    return opts


def write_archive(cp):
    """Write the class-data sharing archive of the classes every workload
    loads (`perfbench.Main --workload classes`). Runs then map it instead
    of loading Spark's classes from the jars, which takes about 4 s off
    each JVM start. When the archive cannot be written, runs load every
    class from the jars."""
    if os.path.exists(ARCHIVE_FILE):
        os.remove(ARCHIVE_FILE)
    work = os.path.join(HERE, "target", "classes-run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cmd = ["java", "-XX:ArchiveClassesAtExit=" + ARCHIVE_FILE] + \
        jvm_options(work) + ["-cp", cp, "perfbench.Main",
                             "--workload", "classes", "--work", work]
    with open(os.path.join(HERE, "target", "archive.log"), "w") as out:
        try:
            r = subprocess.run(cmd, stdout=out, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL, timeout=300)
            ok = r.returncode == 0
        except subprocess.TimeoutExpired:
            ok = False
    shutil.rmtree(work, ignore_errors=True)
    if not ok and os.path.exists(ARCHIVE_FILE):
        os.remove(ARCHIVE_FILE)


def run_jvm(cp, workload, input_dir, work, seconds, trace, extra, budget_s):
    """Run the measuring JVM; return (exit code, peak RSS in MB)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    sharing = ["-XX:SharedArchiveFile=" + ARCHIVE_FILE] \
        if os.path.exists(ARCHIVE_FILE) else []
    cmd = ["java"] + sharing + jvm_options(tmp) + [
        "-cp", cp, "perfbench.Main", "--workload", workload,
        "--input", input_dir, "--work", work, "--seconds", str(seconds),
        "--trace", str(trace)] + extra
    with open(os.path.join(work, "jvm.log"), "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, cwd=work)
        deadline = time.monotonic() + budget_s
        while True:
            # wait4 gives this child's own peak RSS
            pid, status, usage = os.wait4(proc.pid, os.WNOHANG)
            if pid:
                break
            if time.monotonic() > deadline:
                proc.kill()
                _, status, usage = os.wait4(proc.pid, 0)
                break
            time.sleep(0.05)
        proc.returncode = os.waitstatus_to_exitcode(status)
    return proc.returncode, usage.ru_maxrss / 1024.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.workload not in NAMED:
        log("unknown workload " + a.workload)
        return 2
    try:
        cp = build()
    except (RuntimeError, OSError) as e:
        log(str(e))
        return 3
    t_start = time.monotonic()
    tag = "%s-seed%d-trace%d" % (a.workload, a.seed, a.trace)
    base = os.path.join(HERE, ".work")
    work = os.path.join(base, tag)
    shutil.rmtree(work, ignore_errors=True)
    input_dir = os.path.join(work, "input")
    os.makedirs(input_dir)
    params, extra = generate(a.workload, a.seed, a.seconds, input_dir)
    t_gen = time.monotonic()
    log("inputs generated in %.1f s" % (t_gen - t_start))
    budget = JVM_TIMEOUT_S - (time.monotonic() - t_start)
    code, rss_mb = run_jvm(cp, a.workload, input_dir, work,
                           a.seconds, a.trace, extra, budget)
    result_path = os.path.join(work, "result.json")
    if code != 0 or not os.path.exists(result_path):
        log("measuring JVM failed (exit %d), see %s" %
            (code, os.path.join(work, "jvm.log")))
        return 4
    t_jvm = time.monotonic()
    log("measuring JVM ran %.1f s" % (t_jvm - t_gen))
    with open(result_path) as f:
        res = json.load(f)
    checks = res["checks"]
    if a.workload == "analytics":
        checks += oracle.diff_all(os.path.join(work, "oracle_sql.json"),
                                  os.path.join(input_dir, "tables"),
                                  res["extra"]["results"])
    log("python-side checks took %.1f s" % (time.monotonic() - t_jvm))
    m = dict(res["metrics"])
    m["peak_rss_mb"] = rss_mb
    attempted, failed = res["attempted"], res["failed"]
    m["run.failed_ratio"] = failed / max(1, attempted)
    correct = all(c["ok"] for c in checks)

    # Human-readable report, then the one-line result.
    named = NAMED[a.workload]
    for k, v in sorted(m.items()):
        if k in named:
            print("%-28s %14.4f %s" % (named[k][0], v, named[k][1]))
    print("%-28s %14.4f %s" % ("setup_s", m["setup_s"], "s"))
    print("%-28s %14.4f %s" % ("peak_rss_mb", rss_mb, "MB"))
    print("%-28s %14.6f %s" % ("failed_ratio", m["run.failed_ratio"],
                               "ratio"))
    for c in checks:
        print("check %-28s %s %s" % (c["name"], "ok  " if c["ok"] else "FAIL",
                                     c["detail"]))
    print("generator " + json.dumps(
        {k: v for k, v in params.items() if k != "chunk_lines"}))
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    out = {"correct": correct, "attempted": attempted, "failed": failed,
           "metrics": {w["name"]: {"value": float(m.get(w["name"], 0.0)),
                                   "unit": w["unit"]} for w in wanted}}
    # Keep the run's result and spans; drop the bulky inputs and outputs.
    keep = os.path.join(base, "runs")
    os.makedirs(keep, exist_ok=True)
    with open(os.path.join(keep, tag + ".json"), "w") as f:
        json.dump({"result": res, "params": params, "line": out}, f)
    if a.trace:
        shutil.copy(os.path.join(work, "trace.json"),
                    os.path.join(keep, tag + ".spans.json"))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
