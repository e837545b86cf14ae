#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The first run builds the program and
the harness (``perfbench/harness``, an sbt build that loads the program's own
build as a source dependency) and generates the source catalog; later runs
reuse both. Everything the benchmark writes goes under ``.bench_build/``.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. The full run record
(session settings, host-noise readings, per-op results and, for traced runs,
the op/layer/job spans) is written to ``.bench_build/perfbench/runs/``.
"""

import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
EXPECTED = os.path.join(HERE, "expected", "ops_mix.json")
WORKLOADS = ("subset_closure", "ops_mix")
FIXTURES = ("sf0.1",)

RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600
PREPARE_TIMEOUT_S = 300

# Module access Spark needs on JDK 17 outside spark-submit; the same list
# the program's build.sbt passes to forked runs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HARNESS, "build.sbt"),
             os.path.join(HARNESS, "project", "build.properties")]
    for r in roots:
        for d, _, names in sorted(os.walk(r)):
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_logged(cmd, cwd, log_path, timeout):
    """Run cmd in its own process group with output to log_path; kill the
    whole group on timeout. Returns the exit code (None on timeout)."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def build():
    """Compile program + harness once per source state; return the classpath."""
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp_file = os.path.join(WORK, "stamp.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as c:
                    return c.read().strip()
    log = os.path.join(WORK, "logs", "build.log")
    rc = run_logged(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                     "export Runtime/fullClasspath"], HARNESS, log, BUILD_TIMEOUT_S)
    if rc != 0:
        fail(f"build failed (exit {rc}); see {log}")
    with open(log) as f:
        lines = [ln.strip() for ln in f if ln.strip()]
    cp = lines[-1] if lines else ""
    if "harness" not in cp or os.pathsep not in cp:
        fail(f"could not read the classpath from {log}")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def java_cmd(cp, *args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return ["java", *opens, "-Xmx4g",
            f"-Djava.io.tmpdir={WORK}/tmp",
            f"-Dspark.local.dir={WORK}/spark-local",
            f"-Dspark.sql.warehouse.dir={WORK}/warehouse",
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-Dspark.sql.legacy.parquet.nanosAsLong=true",
            "-cp", cp, "perfbench.Main", *args]


def prepare(cp):
    done = [os.path.join(WORK, "data", d, "_FIXTURE_DONE") for d in FIXTURES]
    if all(os.path.exists(d) for d in done):
        return
    log = os.path.join(WORK, "logs", "prepare.log")
    rc = run_logged(java_cmd(cp, "prepare", WORK), ROOT, log, PREPARE_TIMEOUT_S)
    if rc != 0 or not all(os.path.exists(d) for d in done):
        fail(f"fixture generation failed (exit {rc}); see {log}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no program source here ({need} is missing)")
    for d in ("logs", "runs", "tmp", "spark-local", "out"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)

    cp = build()
    prepare(cp)

    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    result = os.path.join(WORK, "runs", f"{tag}.json")
    if os.path.exists(result):
        os.remove(result)
    log = os.path.join(WORK, "logs", f"{tag}.log")
    t0 = time.time()
    rc = run_logged(java_cmd(cp, "run", a.workload, str(a.seed), str(a.seconds),
                             str(a.trace), WORK, EXPECTED, result),
                    ROOT, log, RUN_TIMEOUT_S)
    if rc != 0 or not os.path.exists(result):
        fail(f"run failed (exit {rc}); see {log}")
    with open(result) as f:
        rec = json.load(f)
    run = rec["run"]
    print(json.dumps({"run_record": os.path.relpath(result, ROOT),
                      "process_s": round(time.time() - t0, 3),
                      "ops": len(run["ops"]), "host_start": run["host_start"],
                      "host_end": run["host_end"]}))
    for op in run["ops"]:
        if op["problems"]:
            print(f"op {op['id']} ({op['label']}) failed: {'; '.join(op['problems'])}")
    print(json.dumps({k: rec[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
