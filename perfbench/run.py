#!/usr/bin/env python3
"""Pipeline benchmark runner (see perfbench/README.md).

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
                             [--cores <n>]

Builds the engine and the harness from source on first use (sbt; the
engine into the root build's target/, the harness into perfbench/target),
then runs one workload in a fresh JVM with the root build's JVM options,
sized to the host: cores from the CPU affinity mask (nproc), heap from
SPARK_DRIVER_MEM or else MemTotal/2 clamped to 2-8 GB. Every run gets
its own scratch directory under perfbench/out (the JVM's tmpdir, Spark's
local dir and every store), deleted when the run ends. The last line
printed is the JSON result; the lines before it name every metric with
its unit and the workload's own readings.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
OUT = os.path.join(HERE, "out")
CLASSPATH = os.path.join(TARGET, "bench.classpath")
JVMOPTS = os.path.join(TARGET, "bench.jvmopts")
STAMP = os.path.join(TARGET, "bench.stamp")
# the benchmark JVM's own limit, counted from when the build is done
DEADLINE_S = 175


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Digest of every build input's path, size and mtime."""
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
                 os.path.join(ROOT, "project"), os.path.join(HERE, "src"),
                 os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project")):
        if os.path.isfile(base):
            paths = [base]
        else:
            paths = sorted(os.path.join(d, f) for d, dirs, fs in os.walk(base)
                           if "target" not in d.split(os.sep) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{os.path.relpath(p, ROOT)}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile with sbt when a build input changed since the last build."""
    stamp = source_stamp()
    if os.path.isfile(CLASSPATH) and os.path.isfile(JVMOPTS) and os.path.isfile(STAMP) \
            and open(STAMP).read() == stamp:
        return
    os.makedirs(OUT, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(OUT, "build.log")
    with open(log, "w") as lf:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeRunConfig"],
                            cwd=HERE, env=env, stdout=lf, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=850).returncode
    if rc != 0 or not os.path.isfile(CLASSPATH) or not os.path.isfile(JVMOPTS):
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"build failed (sbt exit {rc}); log in {log}")
    with open(STAMP, "w") as f:
        f.write(stamp)


def heap():
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    kb = 4 * 1048576
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                kb = int(line.split()[1])
    return f"{min(8, max(2, kb // 2097152))}g"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)))
    a = ap.parse_args()
    # a TERM to this script still stops its children and removes the scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    spec_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found next to perfbench/")
    if not os.path.isfile(spec_file):
        fail("BENCHMARK.json not found")
    spec = json.load(open(spec_file))
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}")
    build()
    t_start = time.time()

    os.makedirs(OUT, exist_ok=True)
    run_dir = os.path.join(OUT, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    result_file = os.path.join(run_dir, "result.json")
    log = os.path.join(run_dir, "jvm.log")
    # the root build's run options, with the heap sized to this host
    jvmopts = [o for o in open(JVMOPTS).read().splitlines()
               if o and not o.startswith("-Xmx")]
    cmd = ["java"] + jvmopts + [
        f"-Xmx{heap()}", f"-Djava.io.tmpdir={tmp}",
        "-cp", open(CLASSPATH).read().strip(), "perfbench.Bench",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", a.trace, "--cores", str(a.cores),
        "--tmp", tmp, "--out", result_file,
        "--expected", os.path.join(HERE, "expected_hashes.tsv")]
    if a.trace == "1":
        cmd += ["--spans", os.path.join(OUT, f"spans-{a.workload}-seed{a.seed}.tsv")]
    proc = None
    try:
        with open(log, "w") as lf:
            proc = subprocess.Popen(cmd, cwd=run_dir, stdout=lf, stderr=subprocess.STDOUT,
                                    stdin=subprocess.DEVNULL)
            try:
                rc = proc.wait(timeout=max(10, DEADLINE_S - (time.time() - t_start)))
            except subprocess.TimeoutExpired:
                rc = "timeout"
        if rc != 0 or not os.path.isfile(result_file):
            sys.stderr.write(open(log, errors="replace").read()[-6000:])
            fail(f"benchmark JVM failed ({rc})")
        res = json.load(open(result_file))
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)

    wanted = spec["end_to_end"] if a.trace == "0" else spec["per_layer"]
    unknown = set(res["metrics"]) - {m["name"] for m in wanted}
    if unknown:
        fail(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    metrics = {}
    for m in wanted:
        got = res["metrics"].get(m["name"])
        if got is None:
            if a.trace == "0":
                fail(f"workload {a.workload} did not report {m['name']}")
            # a layer this workload never calls reads zero
            got = {"value": 0.0, "unit": m["unit"]}
        metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}

    print(f"workload {a.workload}  seed {a.seed}  cores {res['cores']}  "
          f"heap {heap()}  trace {a.trace}")
    for k, v in metrics.items():
        print(f"  {k:<44} {v['value']:>14.6g} {v['unit']}")
    for k, v in res["detail"].items():
        print(f"  {k:<44} {v['value']:>14.6g} {v['unit']}   (workload reading)")
    for f in res["failures"]:
        print(f"  FAILED {f}")
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
