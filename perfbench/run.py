#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload array_reads --seed 1 --seconds 20 --trace 0

Builds the engine (the root sbt build) and the harness (perfbench/build.sbt,
which depends on it) from source on first use, offline, then runs the
harness JVM directly. Prints every metric by name with its
unit, and as the last line one JSON object with `correct`, `attempted`,
`failed` and `metrics` (the end-to-end metrics of BENCHMARK.json, or its
per-layer metrics with `--trace 1`). Exits 1 when a correctness check
failed, 2 when the checkout cannot be built or run.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
CLASSPATH = os.path.join(BENCH, "target", "classpath.txt")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
HEAP = "2g"

# Spark on JDK 17 outside spark-submit needs these (as in the root build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] error: {msg}", file=sys.stderr)
    sys.exit(2)


def newest_source_mtime():
    newest = 0.0
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
             os.path.join(BENCH, "src"), os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        if os.path.isfile(r):
            newest = max(newest, os.path.getmtime(r))
        for d, _, files in os.walk(r):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    return newest


def run_bounded(cmd, timeout, **kw):
    """Run `cmd` in its own process group; on timeout kill the group and
    wait for it, so no process outlives the benchmark."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout), p
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None, p
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build():
    if os.path.isfile(CLASSPATH) and os.path.getmtime(CLASSPATH) >= newest_source_mtime():
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    rc, _ = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                        BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr)
    if rc != 0 or not os.path.isfile(CLASSPATH):
        fail(f"build failed (rc={rc})")
    print(f"[perfbench] built in {time.time() - t0:.1f} s", file=sys.stderr)


def main():
    # a TERM from whoever runs the benchmark unwinds through run_bounded,
    # which kills and reaps the harness JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no engine sources under {ROOT}/src/main/scala/graft")
    if not os.path.isfile(spec_path):
        fail("no BENCHMARK.json next to the benchmark directory")
    with open(spec_path) as f:
        spec = json.load(f)
    build()

    workdir = os.path.join(ROOT, ".bench_run", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(os.path.join(workdir, "tmp"))
    out = os.path.join(workdir, "result.json")
    try:
        with open(CLASSPATH) as f:
            cp = f.read().strip()
        opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
        env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT")}
        cmd = ["java", *opens, f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={workdir}/tmp",
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
               "-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
               "--seconds", str(a.seconds), "--trace", str(a.trace),
               "--workdir", workdir, "--out", out]
        rc, _ = run_bounded(cmd, RUN_TIMEOUT_S, cwd=ROOT, env=env, stdout=sys.stderr, stderr=sys.stderr)
        if rc is None:
            fail(f"run exceeded {RUN_TIMEOUT_S} s")
        if not os.path.isfile(out):
            fail(f"harness exited with {rc} and no result")
        with open(out) as f:
            res = json.load(f)
        if a.trace:
            spans = out[:-len(".json")] + ".spans.json"
            os.makedirs(os.path.join(BENCH, "out"), exist_ok=True)
            shutil.copy(spans, os.path.join(BENCH, "out", f"{a.workload}-seed{a.seed}.spans.json"))
    finally:
        shutil.rmtree(workdir, ignore_errors=True)

    # the JSON line carries exactly the metrics BENCHMARK.json names
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    got = res["metrics"]
    metrics, correct = {}, res["correct"]
    for m in wanted:
        v = got.get(m["name"])
        if v is not None and v["unit"] != m["unit"]:
            fail(f"metric {m['name']} has unit {v['unit']}, BENCHMARK.json says {m['unit']}")
        if v is None or v["value"] is None:
            if not a.trace:
                print(f"[perfbench] end-to-end metric {m['name']} was not measured", file=sys.stderr)
                correct = False
            # a layer this workload does not exercise did no work
            v = {"value": 0, "unit": m["unit"]}
        metrics[m["name"]] = v
    for name, v in sorted(got.items()):
        print(f"{name:44s} {v['value']!s:>24} {v['unit']}")
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
