#!/usr/bin/env python3
"""Benchmark runner: builds the program and its harness from source, then
runs one workload in a fresh JVM and prints the result object last.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads are listed in BENCHMARK.json; `--workload all` runs each in turn.
Run from the repository root. Build output, work files and traces go under
$CARGO_TARGET_DIR (default `.bench_build`). The JVM runs in a private mount
namespace with fresh tmpfs mounts on /tmp and /dev/shm when the kernel
allows it, so the program's scratch and index files stay out of the host.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
SBT_OPTS = ("-Dsbt.override.build.repos=true "
            "-Dsbt.repository.config=%s/.sbt/repositories "
            "-Dsbt.offline=true -Dsbt.server.forcestart=false -Xmx2g")


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return os.path.join(ROOT, d) if not os.path.isabs(d) else d


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
             os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project"), os.path.join(HERE, "src", "main")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r)
            if "target" not in os.path.relpath(d, r).split(os.sep)
            for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def clean_env():
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_") and k not in (
               "SPARK_DRIVER_MEM", "SPARK_LOCAL_DIRS", "JAVA_TOOL_OPTIONS",
               "_JAVA_OPTIONS")}
    # the heap the root build's javaOptions give the forked JVM
    env["SPARK_DRIVER_MEM"] = "4g"
    return env


def build(bdir):
    """Compile program + harness once per source state; returns JVM args."""
    for f in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, f)):
            fail("program sources not found (%s); run from the repository root"
                 % f)
    os.makedirs(bdir, exist_ok=True)
    launch = os.path.join(HERE, "target", "launch.txt")
    stamp_file = os.path.join(bdir, "launch.stamp")
    with open(os.path.join(bdir, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = source_stamp()
        fresh = (os.path.exists(launch) and os.path.exists(stamp_file)
                 and open(stamp_file).read() == stamp)
        if not fresh:
            env = clean_env()
            env["COURSIER_MODE"] = "offline"
            env["SBT_OPTS"] = SBT_OPTS % os.path.expanduser("~")
            log = os.path.join(bdir, "build.log")
            with open(log, "w") as out:
                p = subprocess.Popen(
                    ["sbt", "--batch", "-Dsbt.log.noformat=true",
                     "perfbench/writeLaunch"], cwd=HERE, env=env,
                    stdout=out, stderr=subprocess.STDOUT,
                    stdin=subprocess.DEVNULL, start_new_session=True)
                rc = wait(p, BUILD_TIMEOUT_S)
            if rc != 0 or not os.path.exists(launch):
                sys.stderr.write(open(log).read()[-4000:])
                fail("build failed (log: %s)" % log, 3)
            with open(stamp_file, "w") as f:
                f.write(stamp)
    with open(launch) as f:
        return [l.rstrip("\n") for l in f if l.strip()]


def wait(p, timeout):
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -1


def private_tmp_works():
    try:
        return subprocess.run(
            ["unshare", "-rm", "sh", "-c",
             "mount -t tmpfs tmpfs /tmp && mount -t tmpfs tmpfs /dev/shm"],
            stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
            timeout=10).returncode == 0
    except (OSError, subprocess.TimeoutExpired):
        return False


def run_jvm(jvm_args, argv, bdir, tag):
    cmd = ["java"] + jvm_args + ["perfbench.Main"] + argv + [
        "--bench-dir", HERE, "--work", os.path.join(bdir, "work")]
    env = clean_env()
    if private_tmp_works():
        cmd = ["unshare", "-rm", "sh", "-c",
               "mount -t tmpfs tmpfs /tmp && mount -t tmpfs tmpfs /dev/shm"
               " && exec \"$@\"", "sh"] + cmd
    else:
        print("perfbench: no private mount namespace; the program's index "
              "files go to the host /tmp", file=sys.stderr)
        scratch = os.path.join(bdir, "spark-local")
        os.makedirs(scratch, exist_ok=True)
        env["SPARK_GRAFT_LOCAL_DIR"] = scratch
    workdir = os.path.join(bdir, "cwd")
    os.makedirs(os.path.join(bdir, "logs"), exist_ok=True)
    os.makedirs(workdir, exist_ok=True)
    log = os.path.join(bdir, "logs", tag + ".log")
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, cwd=workdir, env=env,
                             stdout=subprocess.PIPE, stderr=err,
                             stdin=subprocess.DEVNULL, text=True,
                             start_new_session=True)
        try:
            out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
            rc = p.returncode
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            out, _ = p.communicate()
            rc = -1
    lines = [l for l in out.splitlines() if l.strip()]
    if rc != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(open(log).read()[-4000:])
        fail("workload run failed (exit %s, log: %s)" % (rc, log), 4)
    for l in lines[:-1]:
        print(l)
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    if a.workload != "all" and a.workload not in names:
        fail("unknown workload %r (have %s)" % (a.workload, ", ".join(names)))
    bdir = build_dir()
    jvm_args = build(bdir)
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    # the workloads whose layers produce each per-layer metric
    with open(os.path.join(HERE, "spec.json")) as f:
        owners = {m["name"]: m["owners"] for m in json.load(f)["per_layer"]}
    results = {}
    for w in ([a.workload] if a.workload != "all" else names):
        argv = ["--workload", w, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace)]
        # a run interrupted earlier leaves its stream checkpoint behind
        work = os.path.join(bdir, "work", "%s-%d" % (w, a.seed))
        shutil.rmtree(work, ignore_errors=True)
        r = run_jvm(jvm_args, argv, bdir, "%s-seed%d-trace%d" % (w, a.seed, a.trace))
        shutil.rmtree(work, ignore_errors=True)
        got = r["metrics"]
        missing = [m["name"] for m in wanted if m["name"] not in got and
                   (not a.trace or w in owners.get(m["name"], names))]
        if missing:
            fail("workload %s did not report %s" % (w, ", ".join(missing)), 5)
        # a per-layer metric of a layer this workload does not run reads 0
        r["metrics"] = {m["name"]: {"value": got.get(m["name"], {"value": 0})["value"],
                                    "unit": m["unit"]} for m in wanted}
        results[w] = r
    if a.workload != "all":
        out = results[a.workload]
    else:
        out = {"correct": all(r["correct"] for r in results.values()),
               "attempted": sum(r["attempted"] for r in results.values()),
               "failed": sum(r["failed"] for r in results.values()),
               "metrics": {"%s.%s" % (w, k): v for w, r in results.items()
                           for k, v in r["metrics"].items()}}
    print(json.dumps(out))


if __name__ == "__main__":
    main()
