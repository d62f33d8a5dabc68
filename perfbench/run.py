#!/usr/bin/env python3
"""Benchmark entry point. Run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the library and the workload programs under perfbench/ with sbt (once per
source state, into .bench_build/), generates the synthetic tables (once),
records a class-data-sharing archive of one short run of every workload
(once per build; it halves JVM start-up), runs the workload in one JVM,
checks its outputs, and prints as its last
stdout line one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json, with
--trace 1 the per-layer ones. The lines before it carry the workload's
detail: op counts per type, the named latencies with their sample counts,
host probes before and after, and for a traced run the tracing overhead.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import zipfile

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(BUILD, "data")
WORK = os.path.join(BUILD, "run")
JAR = os.path.join(BUILD, "perfbench.jar")
CDS = os.path.join(BUILD, "classes.jsa")
SCALE = os.path.join(DATA, "sf0.01")
JVM_TIMEOUT_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def benchmark_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def source_stamp():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")):
        for d, _, files in sorted(os.walk(base)):
            for n in sorted(files):
                p = os.path.join(d, n)
                h.update(p[len(ROOT):].encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    for n in ("build.sbt", os.path.join("project", "build.properties"), "gen_data.py"):
        with open(os.path.join(BENCH, n), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """sbt compile of src/main/scala plus perfbench/src, packaged as one jar
    (class-data sharing archives classes from jars only); returns the
    classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no library sources under src/main/scala/graft; run from a checkout root")
    stamp_file, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    # resolve from the local caches only; never reach for a network repository
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=true" not in opts:
        opts += " -Dsbt.offline=true"
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if "sbt.repository.config" not in opts and os.path.exists(repos):
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env["SBT_OPTS"] = opts.strip()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=600)
    classes = os.path.join(BUILD, "target", "scala-2.13", "classes")
    cp = [ln for ln in p.stdout.splitlines() if ln.startswith(classes + os.pathsep)]
    if p.returncode != 0 or not cp:
        sys.stderr.write(p.stdout[-4000:])
        fail(f"build failed (sbt exit {p.returncode})")
    with zipfile.ZipFile(JAR, "w") as z:
        for d, _, files in os.walk(classes):
            for n in files:
                z.write(os.path.join(d, n), os.path.relpath(os.path.join(d, n), classes))
    cp = JAR + cp[-1][len(classes):]
    shutil.rmtree(DATA, ignore_errors=True)
    data()
    train(cp)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def data():
    if not os.path.isdir(SCALE):
        subprocess.run([sys.executable, os.path.join(BENCH, "gen_data.py"), SCALE, "0.01"],
                       check=True, timeout=300)


def check_oracle(check_dir):
    """The repository's oracle comparison over the analytics results;
    returns (passed, its report)."""
    p = subprocess.run([sys.executable, os.path.join(ROOT, "scripts", "check_oracle.py"),
                        SCALE, check_dir],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=120)
    return p.returncode == 0, p.stdout.strip()


JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def java(cp, cds_flag, workload, seed, seconds, trace):
    """Starts the JVM on a fresh work directory; returns the process."""
    shutil.rmtree(WORK, ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    cmd = ["java"]
    for m in JAVA_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-XX:+UseCodeCacheFlushing",
            "-Xlog:all=warning:stderr", cds_flag,
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-cp", cp, "perfbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--data", DATA, "--work", WORK]
    return subprocess.Popen(cmd, cwd=WORK, stdout=subprocess.PIPE, text=True)


def train(cp):
    """Records the classes one short run of every workload loads."""
    if os.path.exists(CDS):
        os.remove(CDS)
    p = java(cp, f"-XX:ArchiveClassesAtExit={CDS}", "train", 0, 1, 0)
    try:
        p.communicate(timeout=240)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
    if p.returncode != 0 and os.path.exists(CDS):
        os.remove(CDS)


def run_jvm(cp, a):
    cds = f"-XX:SharedArchiveFile={CDS}" if os.path.exists(CDS) else "-Xshare:auto"
    p = java(cp, cds, a.workload, a.seed, a.seconds, a.trace)
    try:
        out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        fail(f"workload {a.workload} did not finish in {JVM_TIMEOUT_S} s")
    lines = [ln for ln in out.splitlines() if ln.startswith("PERFBENCH_RESULT ")]
    if p.returncode != 0 or not lines:
        fail(f"workload {a.workload} exited {p.returncode} without a result")
    return json.loads(lines[-1][len("PERFBENCH_RESULT "):])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()
    spec = benchmark_spec()
    cp = build()
    data()
    r = run_jvm(cp, a)
    correct = bool(r["correct"])
    if a.workload == "analytics":
        ok, report = check_oracle(r["detail"]["check_dir"])
        print("oracle: " + " | ".join(ln for ln in report.splitlines() if ln))
        correct = correct and ok
    for o in r["ops"].values():
        o["failed_share"] = o["failed"] / o["attempted"]
    print("ops: " + json.dumps(r["ops"], sort_keys=True))
    print("detail: " + json.dumps(r["detail"], sort_keys=True))
    print("host: " + json.dumps({"before": r["host_before"], "after": r["host_after"]}))
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    if a.trace:
        print("traced_e2e: " + json.dumps(r["traced_e2e"], sort_keys=True))
        print("untraced_after_e2e: " + json.dumps(r["second_untraced_e2e"], sort_keys=True))
        names, values = [m["name"] for m in spec["per_layer"]], r["layers"]
    else:
        names, values = [m["name"] for m in spec["end_to_end"]], r["e2e"]
    missing = [n for n in names if n not in values]
    if missing:
        fail(f"workload {a.workload} reported no {missing}")
    metrics = {n: {"value": values[n], "unit": units[n]} for n in names}
    print(json.dumps({"correct": correct, "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
