#!/usr/bin/env python3
"""End-to-end benchmark of the graft engine: one workload, one seed.

    python3 e2ebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness from source when they are missing or
stale, writes the seeded inputs, runs the workload in a fresh JVM (one
untimed warm-up round, then whole rounds until `--seconds` are spent),
checks every output of the last round, and prints one JSON result as the
last line of stdout. Everything else goes to stderr. Exits non-zero
without a result when the program is missing or fails.
"""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
HARNESS = os.path.join(HERE, "harness")
HEAP = "2g"
MAX_CORES = 4
DEADLINE_S = 170  # after the build: gen, JVM and checks stay inside 180 s

sys.path.insert(0, HERE)
import checks  # noqa: E402
import gen  # noqa: E402
import workloads  # noqa: E402


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"e2ebench: {msg}")
    sys.exit(code)


def sources_stamp():
    """Digest of every file the two builds read."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "build.sbt"),
             os.path.join(HARNESS, "src")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def sbt(cwd):
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", " ".join(
        ["-Dsbt.offline=true", "-Xmx2g"] +
        ([f"-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
         if os.path.exists(repos) else [])))
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], cwd=cwd,
                       env=env, stdout=sys.stderr, stderr=sys.stderr, stdin=subprocess.DEVNULL)
    if r.returncode != 0:
        fail(f"build failed in {cwd}", 1)


def spark_jars():
    """The Spark jar directory the program builds against: the
    `unmanagedBase` of its build.sbt."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m or not os.path.isdir(m.group(1)):
        fail("the Spark jar directory named by the program's build.sbt is missing")
    return m.group(1)


def build():
    for f in ("build.sbt", "src/main/scala/graft/SparkEntry.scala"):
        if not os.path.exists(os.path.join(ROOT, f)):
            fail(f"the program is missing ({f} not found next to {os.path.basename(HERE)}/)")
    spark_jars()
    stamp_file = os.path.join(WORK, "build.stamp")
    stamp = sources_stamp()
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    log("e2ebench: building the program and the harness")
    sbt(ROOT)
    sbt(HARNESS)
    os.makedirs(WORK, exist_ok=True)
    with open(stamp_file, "w") as f:
        f.write(stamp)


def java_cmd(args, tmp):
    opens = []
    for p in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
              "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
              "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]:
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cp = ":".join([os.path.join(ROOT, "target", "scala-2.13", "classes"),
                   os.path.join(HARNESS, "target", "scala-2.13", "classes"),
                   os.path.join(spark_jars(), "*")])
    # C1 only: under the default tiered JIT, C2 compilations went on
    # through the first timed round on 4 vCPUs, which ran 24 % above the
    # plateau of later rounds (9 % under C1). Bytecode verification is off
    # for the classpath, which is the program's build and the Spark jars.
    return (["java"] + opens + [f"-Xmx{HEAP}", "-XX:TieredStopAtLevel=1",
                                "-XX:+UnlockDiagnosticVMOptions",
                                "-XX:-BytecodeVerificationRemote", "-XX:+UseSerialGC",
                                f"-Djava.io.tmpdir={tmp}",
                                "-Dspark.ui.enabled=false", "-cp", cp, "e2ebench.Harness"] + args)


def run_jvm(workload, data_dir, out_dir, seconds, trace, start):
    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    w = workloads.WORKLOADS[workload]
    launch_ms = int(time.time() * 1000)
    args = [f"workload={workload}", f"data={data_dir}", f"out={out_dir}",
            f"seconds={seconds}", f"trace={trace}", f"cores={cores}", f"launch_ms={launch_ms}"]
    if "ops" in w:
        args.append("ops=" + ",".join(f"{k}:{'+'.join(t)}" for k, t, _ in w["ops"]))
        args += [f"window_slide_min={workloads.WINDOW_SLIDE_MIN}",
                 f"window_slots={workloads.WINDOW_SLOTS}", f"knn_k={workloads.KNN_K}",
                 f"knn_tables={workloads.KNN_TABLES}", f"knn_bits={workloads.KNN_BITS}"]
    else:
        args += [f"stream_events={gen.STREAM_EVENTS}", f"batch_events={gen.BATCH_EVENTS}"]
    log_path = os.path.join(out_dir, "jvm.log")
    with open(log_path, "w") as lf:
        tmp = os.path.join(out_dir, "tmp")
        os.makedirs(tmp)
        p = subprocess.Popen(java_cmd(args, tmp), cwd=out_dir, stdout=lf, stderr=lf,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=max(10, DEADLINE_S - (time.time() - start)))
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            # the JVM never outlives this process, also when it is stopped
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        with open(log_path) as f:
            log("".join(f.readlines()[-40:]))
        fail(f"the harness JVM ended with {rc}", 1)
    with open(os.path.join(out_dir, "harness.json")) as f:
        return json.load(f)


def op_latencies(h):
    """Per operation, its fastest time to full result over the timed
    rounds (build plus action; failed attempts have no time)."""
    best = {}
    for r in h["rounds"]:
        for o in r["ops"]:
            if not o["failed"]:
                t = o["build_s"] + o["action_s"]
                best[o["name"]] = min(t, best.get(o["name"], t))
    return list(best.values())


def median_hd(values):
    """Harrell-Davis estimate of the median: the mean of the order
    statistics weighted by a Beta((n+1)/2, (n+1)/2) density. Where the
    sample median jumps from one operation to another when two of similar
    latency swap places, this estimate moves smoothly."""
    v = sorted(values)
    n, a, steps = len(v), (len(values) + 1) / 2, 1000
    lg = math.lgamma(2 * a) - 2 * math.lgamma(a)
    w = [0.0] * n
    for i in range(n * steps):  # midpoint rule over [0, 1], n slices
        t = (i + 0.5) / (n * steps)
        w[i // steps] += math.exp(lg + (a - 1) * math.log(t * (1 - t)))
    return sum(wi * x for wi, x in zip(w, v)) / sum(w)


def end_to_end(h):
    """Times are the fastest round (CPU steal on a shared host only adds
    time); the operation latency is the median over operations."""
    rounds = h["rounds"]
    fastest = min(rounds, key=lambda r: r["wall_s"])
    return {
        "setup_s": (h["setup_s"], "s"),
        "wall_s": (fastest["wall_s"], "s"),
        "op_latency_p50_ms": (median_hd(op_latencies(h)) * 1e3, "ms"),
        "throughput_rows_per_s": (fastest["rows"] / fastest["wall_s"], "rows/s"),
        "peak_rss_mb": (h["peak_rss_mb"], "MB"),
    }


def per_layer(h, metrics, workload):
    """Per-layer metrics named in BENCHMARK.json: per round, the sums over
    operations (`workloads.LAYERS`) and the round's own figures, then the
    median over rounds. Layers a workload does not run read 0; the
    micro-batches of event_stream are not `queries.*` operations."""
    per_round = []
    for r in h["rounds"]:
        v = defaultdict(float, r["layers"])
        for o in r["ops"]:
            if o["failed"] or workload == "event_stream":
                continue
            fig = {"build": o["build_s"], "action": o["action_s"],
                   "total": o["build_s"] + o["action_s"], "jobs": o["jobs"], "rounds": o["rounds"]}
            v["queries.build_s"] += fig["build"]
            v["queries.action_s"] += fig["action"]
            for name, field in workloads.LAYERS.get(o["name"], []):
                v[name] += fig[field]
        per_round.append(v)
    out = {}
    for m in metrics:
        name = m["name"]
        val = h["extra"][name] if name in h["extra"] else statistics.median(
            v[name] for v in per_round)
        out[name] = (val, m["unit"])
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)

    build()
    built = time.time()
    data_dir = os.path.join(WORK, "data", f"seed-{a.seed}")
    gen.generate(a.seed, data_dir)
    out_dir = os.path.join(WORK, f"run-{a.workload}")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    with open(os.path.join(out_dir, "seed"), "w") as f:
        f.write(str(a.seed))

    h = run_jvm(a.workload, data_dir, out_dir, a.seconds, a.trace, built)
    # the checks read the last round's outputs; an operation that failed
    # there has none
    failed_last = {o["name"] for o in h["rounds"][-1]["ops"] if o["failed"]}
    problems = checks.check_workload(a.workload, data_dir, out_dir, h, failed_last)
    for p in problems:
        log(f"e2ebench: CHECK FAILED: {p}")
    ops = [o for r in h["rounds"] for o in r["ops"]]
    metrics = per_layer(h, bench["per_layer"], a.workload) if a.trace else end_to_end(h)
    log(f"e2ebench: {a.workload} seed {a.seed}: {len(h['rounds'])} timed rounds, "
        f"wall_s per round {[round(r['wall_s'], 3) for r in h['rounds']]}")
    print(json.dumps({
        "correct": not problems,
        "attempted": len(ops),
        "failed": sum(o["failed"] for o in ops),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)


if __name__ == "__main__":
    main()
