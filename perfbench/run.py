#!/usr/bin/env python3
"""Run one workload of the lakehouse benchmark and print its metrics.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
                           [--inject-failure]

Builds the project and the harness in perfbench/ with sbt on first use
(cached in perfbench/target, keyed by a hash of the sources), generates the
inputs from the seed, runs the workload in one JVM on a local[nproc] Spark
session with a scratch warehouse under .bench_work/, checks the outputs,
and prints as its last line one JSON object with `correct`, `attempted`,
`failed` and `metrics`: the end-to-end metrics of BENCHMARK.json, or with
`--trace 1` its per-layer metrics (a layer the workload does not call
reads 0). The run's result, span file and logs stay in .bench_out/.
Exits 1 when an output check fails, 2 when the project cannot be built.
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
ROOT = os.getcwd()
DEFAULT_SEED = 1
DEADLINE_S = 170
BUILD_DEADLINE_S = 840

WORKLOADS = ("faers_quarter", "tablelog_history")

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    """Compiles the project's main sources and the harness; returns the classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        die("the project's sources (build.sbt, src/main/scala) are not in the current directory")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(HERE, "target", "perfbench.stamp")
    cp_file = os.path.join(HERE, "target", "perfbench.classpath")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        if open(stamp_file).read() == stamp:
            return open(cp_file).read().strip(), stamp
    env = dict(os.environ, COURSIER_MODE="offline")
    log = os.path.join(HERE, "target", "build.log")
    tmp = os.path.join(HERE, "target", "tmp")
    os.makedirs(tmp, exist_ok=True)
    with open(log, "w") as lf:
        p = subprocess.Popen(
            ["sbt", "-batch", "-Dsbt.offline=true", "-Dsbt.log.noformat=true",
             "-Dsbt.server.forcestart=false", f"-Djava.io.tmpdir={tmp}", "-J-XX:-UsePerfData",
             "compile", "export Compile/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=lf, stdin=subprocess.DEVNULL,
            text=True)
        try:
            out, _ = p.communicate(timeout=BUILD_DEADLINE_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            die("build timed out")
        lf.write(out)
    lines = [l.strip() for l in out.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "classes" not in lines[-1]:
        die(f"build failed, see {log}")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1], stamp


def filesystem_of(path):
    """Filesystem type of the mount holding `path`."""
    best, fstype = "", "unknown"
    try:
        with open("/proc/mounts") as f:
            for line in f:
                parts = line.split()
                mnt = parts[1]
                if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) >= len(best):
                    best, fstype = mnt, parts[2]
    except OSError:
        pass
    return fstype


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "none"
    except (OSError, subprocess.TimeoutExpired):
        return "none"


def expected_mismatches(workload, observed):
    """Default-seed output values recorded in perfbench/expected.json."""
    with open(os.path.join(HERE, "expected.json")) as f:
        exp = json.load(f).get(workload, {})
    return [f"{k}: {observed.get(k)} != recorded {v}"
            for k, v in exp.items() if observed.get(k) != v]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject-failure", action="store_true",
                    help="self-test: add one throwing operation per pass")
    a = ap.parse_args()

    classpath, stamp = build()
    t_start = time.monotonic()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)

    work = os.path.join(ROOT, ".bench_work", a.workload)
    out = os.path.join(ROOT, ".bench_out", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    for d in (work, out):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    os.makedirs(os.path.join(work, "tmp"))

    result_file = os.path.join(out, "result.json")
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:CICompilerCount=2", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={work}/tmp", f"-Dgraft.scratch.dir={work}/scratch",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", classpath, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", work, "--out", result_file,
        "--spans", os.path.join(out, "spans.json") if a.trace else "",
        "--inject-failure", "1" if a.inject_failure else "0",
    ]
    with open(os.path.join(out, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            p.wait(timeout=max(10, DEADLINE_S - (time.monotonic() - t_start)))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            die(f"workload timed out, see {out}/jvm.log", 1)
    if p.returncode != 0 or not os.path.exists(result_file):
        die(f"workload exited with {p.returncode}, see {out}/jvm.log", 1)
    with open(result_file) as f:
        res = json.load(f)

    checks = list(res["check_failures"])
    observed = res["observed"]
    if a.seed == DEFAULT_SEED:
        checks += expected_mismatches(a.workload, observed)

    # a layer this workload never calls measured nothing: it reads 0
    wanted = bench["per_layer"] if a.trace else bench["end_to_end"]
    got = res["metrics"]
    missing = [m["name"] for m in wanted if m["name"] not in got and not a.trace]
    if missing:
        die(f"workload did not measure {missing}", 1)
    metrics = {m["name"]: got.get(m["name"], {"value": 0.0, "unit": m["unit"]}) for m in wanted}

    info = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "nproc": res["nproc"], "git_commit": git_commit(), "source_sha256": stamp,
        "scratch_fs": filesystem_of(work),
        "failed_share": res["failed_share"], "setup": res["setup"],
        "failures": res["failures"], "check_failures": checks, "observed": observed,
    }
    with open(os.path.join(out, "run.json"), "w") as f:
        json.dump({"info": info, "metrics": got}, f, indent=1, sort_keys=True)
    shutil.rmtree(work, ignore_errors=True)

    for c in checks:
        print(f"perfbench: check failed: {c}")
    print("perfbench: " + " ".join(f"{k}={v}" for k, v in info.items()
                                   if k in ("workload", "seed", "nproc", "git_commit",
                                            "scratch_fs", "failed_share")))
    print("perfbench: " + " ".join(f"{k}={v['value']:.6g}{v['unit']}" for k, v in metrics.items()))
    print(json.dumps({"correct": not checks, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    sys.exit(0 if not checks else 1)


if __name__ == "__main__":
    main()
