#!/usr/bin/env python3
"""Pipeline benchmark: builds the engine from source, runs one workload in one
JVM, checks its outputs and prints one JSON result line.

    python3 perfbench/run.py --workload cdc_live --seed 1 --seconds 15 --trace 0

Run from the repository root. Build outputs, run directories, logs, spans
and full results go under .bench_build/ (or $CARGO_TARGET_DIR when set).
The last stdout line is {"correct", "attempted", "failed", "metrics"}; the
line before it carries the run's provenance. Exit code 0 means the run
completed and every output check passed.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("cdc_live", "lake_replay_read")
JVM_HEAP = "3g"
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]
# A run in which the hypervisor gave more than this share of the CPUs' time to
# other machines is marked not comparable in its provenance.
STEAL_LIMIT = 0.05


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def tree_digest(*roots):
    h = hashlib.sha256()
    for root in roots:
        for dirpath, dirnames, filenames in sorted(os.walk(root)):
            dirnames.sort()
            for name in sorted(filenames):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, root).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def spark_jars(root):
    """The Spark jars the engine builds against: $SPARK_HOME/jars, else the
    directory build.sbt names as its unmanagedBase."""
    jars_dir = None
    if os.environ.get("SPARK_HOME"):
        jars_dir = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        jars_dir = m.group(1) if m else None
    if not jars_dir or not os.path.isdir(jars_dir):
        die(f"no Spark jars at {jars_dir!r} (set SPARK_HOME)")
    return sorted(os.path.join(jars_dir, j) for j in os.listdir(jars_dir) if j.endswith(".jar"))


def scalac(sources, out, classpath, log):
    """Compile with the Scala compiler that ships in the Spark jars."""
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", classpath, "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", classpath] + sources
    with open(log, "w") as lf:
        rc = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        with open(log) as lf:
            sys.stderr.write(lf.read()[-4000:])
        die(f"compile failed, see {log}", 1)


def build(root, build_dir):
    """(Re)build the engine and the harness when their sources changed."""
    src = os.path.join(root, "src", "main", "scala")
    res = os.path.join(root, "src", "main", "resources")
    bench_src = os.path.join(HERE, "src")
    if not os.path.isdir(src):
        die(f"no engine sources at {src}: run from the repository root")
    jars = spark_jars(root)
    prog_digest = tree_digest(src, res) if os.path.isdir(res) else tree_digest(src)
    prog = os.path.join(build_dir, "engine")
    harness = os.path.join(build_dir, "harness")
    os.makedirs(build_dir, exist_ok=True)

    def stale(d, digest):
        try:
            with open(os.path.join(d, "STAMP")) as f:
                return f.read() != digest
        except OSError:
            return True

    def sources(d):
        return sorted(os.path.join(p, n) for p, _, ns in os.walk(d) for n in ns if n.endswith(".scala"))

    if stale(prog, prog_digest):
        shutil.rmtree(prog, ignore_errors=True)
        t0 = time.time()
        scalac(sources(src), os.path.join(prog, "classes"), ":".join(jars),
               os.path.join(build_dir, "engine-compile.log"))
        if os.path.isdir(res):
            shutil.copytree(res, os.path.join(prog, "classes"), dirs_exist_ok=True)
        with open(os.path.join(prog, "STAMP"), "w") as f:
            f.write(prog_digest)
        print(f"perfbench: built engine in {time.time() - t0:.1f} s", file=sys.stderr)
    harness_digest = prog_digest + tree_digest(bench_src)
    cp = ":".join([os.path.join(prog, "classes")] + jars)
    if stale(harness, harness_digest):
        shutil.rmtree(harness, ignore_errors=True)
        scalac(sources(bench_src), os.path.join(harness, "classes"), cp,
               os.path.join(build_dir, "harness-compile.log"))
        with open(os.path.join(harness, "STAMP"), "w") as f:
            f.write(harness_digest)
    return os.path.join(harness, "classes") + ":" + cp, prog_digest


def git_revision(root):
    if not os.path.isdir(os.path.join(root, ".git")):
        return "none (not a git checkout)"
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def cpu_times():
    """(steal, total) jiffies over all CPUs, from /proc/stat (0, 0 where absent)."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
        return (fields[7] if len(fields) > 7 else 0), sum(fields)
    except OSError:
        return 0, 0


def calibration_ms():
    """Time of a fixed pure-Python loop, best of three: a record of how fast the
    machine ran at the time, for telling a slow program from a slow host."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(1_000_000):
            acc ^= i * 7
        best = min(best, (time.perf_counter() - t0) * 1000)
    return best


def run_jvm(classpath, args, build_dir):
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(build_dir, "run", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    results = os.path.join(build_dir, "results")
    logs = os.path.join(build_dir, "logs")
    os.makedirs(results, exist_ok=True)
    os.makedirs(logs, exist_ok=True)
    out = os.path.join(results, f"{tag}.jvm.json")
    if os.path.exists(out):
        os.remove(out)
    # the heap is touched up front, so rss_peak_mb does not depend on how far
    # the collector happened to spread the run's garbage over the heap
    cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+AlwaysPreTouch",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--out", out])
    log = os.path.join(logs, f"{tag}.log")
    calib0 = calibration_ms()
    steal0, total0 = cpu_times()
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work)

        def stop(signum, _frame):
            proc.kill()
            proc.wait()
            die(f"stopped by signal {signum}", 1)
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            rc = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die(f"run exceeded {RUN_TIMEOUT_S} s, see {log}", 1)
    steal1, total1 = cpu_times()
    calib1 = calibration_ms()
    shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not os.path.exists(out):
        with open(log) as lf:
            sys.stderr.write(lf.read()[-4000:])
        die(f"JVM exited with {rc}, see {log}", 1)
    with open(out) as f:
        jvm = json.load(f)
    # time the hypervisor gave this machine's CPUs to others during the run
    steal = (steal1 - steal0) / max(1, total1 - total0)
    jvm["info"]["cpu_steal_share"] = f"{steal:.3f}"
    jvm["info"]["comparable"] = str(steal <= STEAL_LIMIT).lower()
    jvm["info"]["host_calibration_ms"] = f"{calib0:.1f} {calib1:.1f}"
    if steal > STEAL_LIMIT:
        print(f"perfbench: CPU steal was {steal:.1%} during the run; its timings are not "
              "comparable with a quiet run's", file=sys.stderr)
    return jvm, log


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        die("no BENCHMARK.json here: run from the repository root")
    with open(spec_path) as f:
        spec = json.load(f)
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or os.path.join(root, ".bench_build"))
    classpath, digest = build(root, build_dir)

    jvm, log = run_jvm(classpath, args, build_dir)
    got = jvm["metrics"]
    # a metric the run did not measure is never filled in: the run fails instead
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics, missing = {}, []
    for m in wanted:
        v = got.get(m["name"], {}).get("value")
        if v is None:
            missing.append(m["name"])
        else:
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}

    checks = jvm["checks"]
    if missing:
        checks.append({"name": "metrics_measured", "ok": False, "detail": "not measured: " + ", ".join(missing)})
    bad = [c for c in checks if not c["ok"]]
    correct = not bad
    for c in checks:
        print(f"perfbench: check {c['name']}: {'ok' if c['ok'] else 'FAILED'} ({c['detail']})",
              file=sys.stderr)
    for fmsg in jvm["failures"]:
        print(f"perfbench: failure: {fmsg}", file=sys.stderr)
    for name, m in metrics.items():
        print(f"perfbench: {name} = {m['value']:.6g} {m['unit']}", file=sys.stderr)

    info = dict(jvm["info"])
    info.update({
        "git_revision": git_revision(root),
        "engine_source_sha256": digest,
        "loadavg_1_5_15": " ".join(f"{x:.2f}" for x in os.getloadavg()),
        "jvm_heap": JVM_HEAP,
        "log": log,
        "missing_metrics": ",".join(missing),
    })
    result = {"correct": correct, "attempted": int(jvm["attempted"]),
              "failed": int(jvm["failed"]), "metrics": metrics}
    with open(os.path.join(build_dir, "results",
                           f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump({"result": result, "provenance": info, "checks": checks,
                   "all_metrics": got}, f, indent=1)
    print(json.dumps({"provenance": info}))
    print(json.dumps(result))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
