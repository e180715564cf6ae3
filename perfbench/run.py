#!/usr/bin/env python3
"""Seeded end-to-end benchmark of the graft engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the engine together
with the benchmark driver (perfbench/build.sbt, sbt offline); later runs
reuse the build while the sources are unchanged. Each run generates its
inputs from the seed, starts one JVM (`local[nproc]`, one closed-loop
client), sets up, measures round(S / pass_s) passes of the workload (about
S seconds on a 4-core box; see workloads.py), checks every output, and
prints as its last line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics; with --trace 1
they are the per-layer metrics of a traced run (listeners on), and the
spans are written to perfbench/work/spans.json. The line before it
(`perfbench {...}`) carries the workload-specific figures, the box probe,
op membership and which ops failed.
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
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
TARGET = os.path.join(HERE, "target")
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import workloads as W  # noqa: E402

JVM_MEM = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_stamp():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(HERE, "project")):
        for d, _, files in sorted(os.walk(base)):
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p[len(ROOT):].encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for p in ("build.sbt", "project/build.properties", "perfbench/build.sbt"):
        with open(os.path.join(ROOT, p), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the engine (through its own build) and graft.perfbench.Driver with sbt;
    return the runtime classpath."""
    stamp = sources_stamp()
    cp_file = os.path.join(TARGET, "perfbench-classpath.json")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            cached = json.load(fh)
        if cached.get("stamp") == stamp:
            return cached["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    tmp = os.path.join(TARGET, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = env.get("SBT_OPTS") or "-Dsbt.offline=true -Xmx2g"
    if os.path.exists(repos) and "sbt.repository.config" not in opts:
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    # keep the build's temporary files inside the checkout
    env["SBT_OPTS"] = f"{opts} -Djava.io.tmpdir={tmp}"
    env["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    p = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=840)
    lines = [ln for ln in p.stdout.splitlines() if "scala-2.13/classes" in ln and ":" in ln]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    os.makedirs(TARGET, exist_ok=True)
    with open(cp_file, "w") as fh:
        json.dump({"stamp": stamp, "classpath": lines[-1].strip()}, fh)
    return lines[-1].strip()


def prepare_inputs(wl, seed, setups):
    data = os.path.join(WORK, "data")
    if wl.hrrp:
        readm, hosp = gen.generate_hrrp(os.path.join(data, "hrrp"), seed, W.HRRP_FACILITIES)
        return data, (readm, hosp)
    base = os.path.join(data, "tables")
    gen.generate_tables(base, seed, W.TABLE_SCALE)
    # one hard-linked copy per setup, plus one for the traced run's
    # artifact builds: per-directory artifacts rebuild each time
    for k in range(setups + 1):
        d = os.path.join(data, f"set{k}")
        os.makedirs(d)
        for f in os.listdir(base):
            os.link(os.path.join(base, f), os.path.join(d, f))
    return data, base


def run_driver(cp, args, deadline):
    cmd = (["java", f"-Xmx{JVM_MEM}", f"-Xms{JVM_MEM}", "-XX:-UsePerfData"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={WORK}/tmp", f"-Dderby.system.home={WORK}",
              "-cp", cp, "graft.perfbench.Driver"] + args)
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    with open(os.path.join(WORK, "driver.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=WORK, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("driver timed out")
    if rc != 0:
        with open(os.path.join(WORK, "driver.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"driver exited with {rc}")
    with open(os.path.join(WORK, "raw.json")) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail("engine sources not found: run from a full checkout of the repository")
    wl = W.WORKLOADS[a.workload]
    cp = build()
    deadline = time.time() + 165
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    # set-up time is an end-to-end metric only: a traced run sets up once
    setups = 1 if a.trace else W.SETUPS
    data, inputs = prepare_inputs(wl, a.seed, setups)
    passes = max(1, round(a.seconds / wl.pass_s))
    args = ["--workload", a.workload, "--seed", str(a.seed), "--passes", str(passes),
            "--trace", str(a.trace), "--data", data, "--work", WORK,
            "--cpus", str(os.cpu_count() or 4), "--setups", str(setups)]
    if wl.ops:
        args += ["--ops", ",".join(wl.ops)]
    raw = run_driver(cp, args, deadline)
    mismatches = check.check_hrrp(raw, WORK, *inputs) if wl.hrrp else check.check_registry(raw, WORK, inputs)
    result, summary = W.metrics(raw, mismatches, a.trace == 1)
    if a.trace:
        with open(os.path.join(WORK, "spans.json"), "w") as fh:
            json.dump(raw["spans"], fh)
    print("perfbench " + json.dumps(summary, sort_keys=True))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
