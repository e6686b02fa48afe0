#!/usr/bin/env python3
"""Benchmark of the scene chain (build, train/apply) and a driver-heavy
query mix. Run from the root of a checkout:

    python3 perfbench/run.py --workload scene-chain --seed 1 --seconds 10 --trace 0

Builds the harness jar from source when the sources changed, runs one
workload in a fresh JVM on local[nproc], checks its outputs and prints
one JSON object as the last line of stdout. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("scene-chain", "query-mix")
E2E = {"setup_s": "s", "unit_s": "s", "heap_live_peak_mb": "MB"}
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 880

sys.path.insert(0, HERE)
import oracle  # noqa: E402


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files(root):
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(root, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def build(root):
    """Return the harness jar, building it with sbt when no jar for the
    current sources exists yet."""
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        fail("no src/main/scala under the working directory: run from a checkout root")
    h = hashlib.sha256()
    for f in source_files(root):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    jar = os.path.join(out_dir, f"perfbench-{h.hexdigest()[:16]}.jar")
    if os.path.exists(jar):
        return jar
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env:
        env["SBT_OPTS"] = "-Xmx3g -Dsbt.offline=true" + (
            f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
            if os.path.exists(repos) else "")
    t0 = time.time()
    r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "package"], cwd=HERE,
                       env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       timeout=BUILD_TIMEOUT_S)
    built = os.path.join(HERE, "target", "perfbench.jar")
    if r.returncode != 0 or not os.path.exists(built):
        sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
        fail("build failed")
    os.makedirs(out_dir, exist_ok=True)
    for old in glob.glob(os.path.join(out_dir, "perfbench-*.jar")):
        os.remove(old)
    shutil.copyfile(built, jar)
    print(f"perfbench: built {os.path.basename(jar)} in {time.time() - t0:.1f} s", file=sys.stderr)
    return jar


def cores():
    return len(os.sched_getaffinity(0))


def heap():
    """The tier-1 SPARK_DRIVER_MEM formula: half the box's GiB, in [2, 8]."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def spark_home():
    """SPARK_HOME, else the install that the `spark-submit` on PATH belongs to."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark install: set SPARK_HOME or put spark-submit on PATH")
    return home


def java_cmd(jar, run_root, heap_size):
    cp = os.pathsep.join([jar, os.path.join(spark_home(), "jars", "*")])
    # -XX:-UsePerfData: no hsperfdata file in /tmp
    return ["java", f"-Xmx{heap_size}", "-XX:-UsePerfData", *ADD_OPENS,
            f"-Djava.io.tmpdir={run_root}/tmp",
            "-Duser.timezone=UTC", "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main"]


def run_jvm(cmd, cwd, log):
    """Run the JVM in its own process group; kill the group on timeout."""
    with open(log, "wb") as lf:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=lf, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def main():
    # a terminated run still stops its JVM (run_jvm's finally) and cleans up
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full")
    a = ap.parse_args()
    root = os.getcwd()
    jar = build(root)
    n = cores()
    heap_size = heap()
    run_root = os.path.join(root, ".perfbench_run", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_root, ignore_errors=True)
    os.makedirs(os.path.join(run_root, "tmp"))
    try:
        out = os.path.join(run_root, "result.json")
        cmd = java_cmd(jar, run_root, heap_size) + [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--root", run_root, "--cores", str(n),
            "--size", a.size, "--testdata", os.path.join(HERE, "testdata", "sf0.01"),
            "--out", out]
        t0 = time.time()
        code = run_jvm(cmd, run_root, os.path.join(run_root, "jvm.log"))
        if code != 0 or not os.path.exists(out):
            with open(os.path.join(run_root, "jvm.log"), errors="replace") as f:
                lines = [l for l in f if not l.lstrip().startswith(("at ", "..."))]
            sys.stderr.write("".join(lines[-60:]))
            fail(f"benchmark JVM {'timed out' if code is None else f'exited {code}'}", 1)
        with open(out) as f:
            res = json.load(f)
        checks = res["checks"]
        if a.workload == "query-mix":
            checks += oracle.check(res["extra"]["query_outputs"], res["report"])
        result = summarize(a, res, checks, n, heap_size, time.time() - t0)
    finally:
        shutil.rmtree(run_root, ignore_errors=True)
    print(json.dumps(result, separators=(",", ":")))


def summarize(a, res, checks, n, heap_size, jvm_s):
    failed_checks = [c for c in checks if not c["ok"]]
    attempted = res["ops"] + len(checks)
    failed = res["failed_ops"] + len(failed_checks)
    report = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "size": a.size,
        "env": {"master": f"local[{n}]", "shuffle_partitions": n, "heap": heap_size,
                "timezone": "UTC", "ui": False, "spark_app": res["app_id"]},
        "failed_frac": failed / attempted, "jvm_s": round(jvm_s, 3),
        "figures": res["report"],
        "checks": checks,
    }
    if a.trace:
        report["self_times"] = res["self_times"]
        trace_dir = os.path.join(os.getcwd(), ".bench_build", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        path = os.path.join(trace_dir, f"{a.workload}-seed{a.seed}.json")
        with open(path, "w") as f:
            json.dump({"report": report, "spans": res["spans"]}, f)
        report["spans_file"] = os.path.relpath(path)
    print("perfbench report: " + json.dumps(report, separators=(",", ":")))
    if a.trace:
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in sorted(res["layers"].items())}
    else:
        metrics = {k: {"value": res["e2e"][k], "unit": u} for k, u in E2E.items()}
    return {"correct": not failed_checks and res["failed_ops"] == 0,
            "attempted": attempted, "failed": failed, "metrics": metrics}


def layer_unit(name):
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith(".jobs"):
        return "count"
    if "bytes" in name:
        return "bytes"
    if name.endswith("_frac") or name.endswith("_ratio"):
        return "ratio"
    if name.endswith("_px"):
        return "pixels"
    if name.endswith("cells"):
        return "cells"
    return "count"


if __name__ == "__main__":
    main()
