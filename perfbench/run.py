#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload bulk_clean --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the harness (the sbt
project in this directory, which compiles the repository's own sources as a
dependency) and caches the classpath under perfbench/target/; later runs
rebuild only when a source or build file changed. Each run then starts one
JVM that generates the workload's inputs from the seed, runs the closed loop
for the given seconds, checks every answer against the generator's
expectations and prints the metrics. The last stdout line is the result
object; the lines before it, prefixed '# ', are the full report.
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
BUILD = os.path.join(HERE, "target", "perfbench")
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("bulk_clean", "micro_dirty", "crawl_ingest")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "3g"

# what a Spark 4 session needs on JDK 17 outside spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def build_inputs():
    """Every file whose change can change the harness or the program."""
    paths = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "project"), os.path.join(ROOT, "src", "main"),
                os.path.join(HERE, "src")):
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            paths += [os.path.join(d, f) for f in sorted(files)
                      if f.endswith((".scala", ".java", ".sbt", ".properties"))]
    return paths


def stamp():
    h = hashlib.sha256()
    for p in build_inputs():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def classpath():
    """Builds when the sources changed; returns the runtime classpath."""
    want = stamp()
    cp_file, stamp_file = os.path.join(BUILD, "classpath"), os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read().strip() == want:
                with open(cp_file) as g:
                    return g.read().strip()
    print("# building the harness and the program with sbt", flush=True)
    # own process group: sbt's launcher script starts the JVM that builds
    p = subprocess.Popen(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail("build timed out")
    lines = [l for l in out.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(want)
    return lines[-1].strip()


def expected_metrics(trace):
    """Metric names BENCHMARK.json promises for this mode, when it is present."""
    spec = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec):
        return None
    with open(spec) as f:
        b = json.load(f)
    return {m["name"] for m in b["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inputs-only", action="store_true",
                    help="generate the inputs and print their digest")
    ap.add_argument("--plant-wrong", action="store_true",
                    help="perturb the first expectation; the op must fail")
    a = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"the program's sources are missing ({need}); run from a full checkout", 2)
    cp = classpath()

    run_dir = os.path.join(WORK, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    trace_out = os.path.join(WORK, "traces", f"{a.workload}-seed{a.seed}.jsonl")
    t0_ms = int(time.time() * 1000)  # setup_s counts from here: the build is not set-up
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={run_dir}/tmp",
            "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--t0-ms", str(t0_ms), "--work", run_dir, "--trace-out", trace_out,
              "--inputs-only", "1" if a.inputs_only else "0",
              "--plant-wrong", "1" if a.plant_wrong else "0"])
    # the program reads GRAFT_*/PANDERA_* switches from the environment
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("GRAFT_", "PANDERA_"))}
    log = os.path.join(WORK, f"{a.workload}-seed{a.seed}.log")
    try:
        with open(log, "w") as err:
            p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE,
                                 stderr=err, text=True)
            try:
                out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                fail(f"run exceeded {RUN_TIMEOUT_S} s (log: {log})")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = out.splitlines()
    if p.returncode != 0 or not lines:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"run failed with exit code {p.returncode}")
    result = json.loads(lines[-1])
    if not a.inputs_only:
        want = expected_metrics(a.trace)
        if want is not None and set(result["metrics"]) != want:
            fail(f"metrics {sorted(result['metrics'])} differ from BENCHMARK.json {sorted(want)}")
    print("\n".join(lines[:-1]))
    print(lines[-1])


if __name__ == "__main__":
    main()
