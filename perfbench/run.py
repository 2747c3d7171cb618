#!/usr/bin/env python3
"""Run one benchmark workload against the graft engine in this checkout.

    python3 perfbench/run.py --workload scan_mix --seed 1 --seconds 5 --trace 0

Run from the root of a checkout; `--workload all` runs every workload in turn. The first run builds the program and the
benchmark from source with sbt (the build is reused while no source file
changes), then starts one JVM that sets the workload up, runs its timed
closed loop and checks every result. The report goes to stdout; its last
line is one JSON object with `correct`, `attempted`, `failed` and
`metrics` (the end-to-end metrics with `--trace 0`, the per-layer metrics
with `--trace 1`). The full run record is kept under perfbench/.work/results.
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

START = time.monotonic()
HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("scan_mix", "ingest_dml", "pipeline_ops")
# A run must end within 180 s; the first run in a checkout may take 900 s
# because it builds.
RUN_LIMIT_S = 175
FIRST_RUN_LIMIT_S = 890
BUILD_LIMIT_S = 700

END_TO_END = [
    ("setup_s", "s"), ("op_p50_ms", "ms"), ("op_p90_ms", "ms"), ("ops_per_s", "ops/s"),
    ("cpu_ms_per_op", "ms"), ("stored_bytes_per_user_byte", "ratio"),
    ("retained_heap_mb", "MiB"),
]
# Reported in the record and the report, but only where they apply.
WORKLOAD_ONLY = [
    ("write_p50_ms", "ms"), ("write_p90_ms", "ms"), ("ingest_rows_per_s", "rows/s"),
    ("error_rate", "ratio"),
]

# The per-layer metrics of the `--trace 1` result line, as BENCHMARK.json
# lists them: the ones both of its workloads measure. The traced report
# prints every layer metric a workload measures, and names the rest absent.
PER_LAYER = [
    ("storage.files_total", "count"), ("storage.empty_files", "count"),
    ("storage.versions", "count"), ("storage.meta_bytes", "bytes"),
    ("storage.data_bytes", "bytes"),
    ("sources.bytes_read_per_op", "bytes"), ("sources.rows_read_per_row_returned", "ratio"),
    ("spark.plan.analysis_ms", "ms"), ("spark.plan.optimization_ms", "ms"),
    ("spark.plan.planning_ms", "ms"),
    ("spark.exec.jobs_per_op", "count"), ("spark.exec.tasks_per_op", "count"),
    ("spark.exec.task_cpu_ms_per_op", "ms"), ("spark.exec.gc_ms_per_op", "ms"),
    ("spark.exec.shuffle_bytes_per_op", "bytes"), ("spark.exec.driver_gap_ms", "ms"),
    ("self_ms.driver", "ms"), ("self_ms.spark.plan", "ms"), ("self_ms.spark.exec", "ms"),
    ("trace.overhead_ms", "ms"), ("trace.overhead_pct", "%"),
]

JAVA_OPTS = [
    "-Xmx3g", "-Xss4m", "-Duser.timezone=UTC", "-XX:-UsePerfData",
] + [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", p + "=ALL-UNNAMED")]


def fail(code, msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_fingerprint(root):
    """Digest of every file the build reads, so an edit forces a rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(root, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(root, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    files = [os.path.join(root, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        if os.path.isfile(r):
            files.append(r)
        for d, _, names in os.walk(r):
            files.extend(os.path.join(d, n) for n in names)
    for f in sorted(files):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, cwd, limit_s, log_path, env=None):
    """Run `cmd` in its own process group; kill the group on timeout."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, env=env, start_new_session=True)
        try:
            return p.wait(timeout=max(1.0, limit_s))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def build(root):
    """Compile program and benchmark; return (runtime classpath, built now)."""
    os.makedirs(WORK, exist_ok=True)
    stamp = os.path.join(WORK, "build.json")
    fp = source_fingerprint(root)
    if os.path.exists(stamp):
        with open(stamp) as fh:
            cached = json.load(fh)
        if cached.get("fingerprint") == fp:
            return cached["classpath"], False
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log = os.path.join(WORK, "build.log")
    rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                      "compile", "export perfbench/Runtime/fullClasspath"],
                     HERE, BUILD_LIMIT_S, log, env)
    if rc != 0:
        with open(log) as fh:
            tail = fh.read()[-3000:]
        fail(3, f"build failed (exit {rc}):\n{tail}")
    with open(log) as fh:
        lines = [l.strip() for l in fh if ".jar" in l and os.pathsep in l and not l.startswith("[")]
    if not lines:
        fail(3, "build printed no classpath")
    with open(stamp, "w") as fh:
        json.dump({"fingerprint": fp, "classpath": lines[-1]}, fh)
    return lines[-1], True


def fmt(v):
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",),
                    help="one workload, or all of them one after another")
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if not 1 <= a.seconds <= 60:
        fail(2, "--seconds must be 1..60")

    root = os.getcwd()
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft", "SparkEntry.scala")):
        if not os.path.isfile(os.path.join(root, need)):
            fail(2, f"run from the root of a checkout: {need} is missing")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail(2, "sbt and java must be on PATH")

    classpath, built = build(root)
    limit = (FIRST_RUN_LIMIT_S if built else RUN_LIMIT_S) - (time.monotonic() - START)

    for n, workload in enumerate(WORKLOADS if a.workload == "all" else [a.workload]):
        run_workload(workload, a, root, classpath, limit if n == 0 else RUN_LIMIT_S)
    return 0


def run_workload(workload, a, root, classpath, limit):
    """Run one workload in its own JVM, print its report and result line."""
    tag = f"{workload}-seed{a.seed}-trace{a.trace}"
    run_dir = os.path.join(WORK, "runs", f"{tag}-{os.getpid()}")
    results = os.path.join(WORK, "results")
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    os.makedirs(results, exist_ok=True)
    out = os.path.join(results, f"{tag}.json")
    if os.path.exists(out):
        os.remove(out)
    cmd = ["java"] + JAVA_OPTS + [f"-Djava.io.tmpdir={run_dir}/tmp", "-cp", classpath,
                                  "perfbench.Main", "--workload", workload,
                                  "--seed", str(a.seed), "--seconds", str(a.seconds),
                                  "--trace", str(a.trace), "--work", run_dir, "--out", out]
    log = os.path.join(results, f"{tag}.log")
    t_jvm = time.monotonic()
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    rc = run_bounded(cmd, root, limit - 5, log, env)
    print(f"perfbench: jvm {time.monotonic() - t_jvm:.1f} s, before it "
          f"{t_jvm - START:.1f} s", file=sys.stderr)
    shutil.rmtree(run_dir, ignore_errors=True)
    if rc is None:
        fail(4, f"run exceeded its time limit; log: {log}")
    if rc != 0 or not os.path.exists(out):
        fail(5, f"run failed (exit {rc}); log: {log}")
    with open(out) as fh:
        rec = json.load(fh)

    e2e = rec.get("end_to_end", {})
    attempted = int(rec.get("attempted", 0))
    failed_ops = int(rec.get("failed_ops", 0))
    other = int(rec.get("failure_count", 0)) - failed_ops
    failed = failed_ops + max(0, other)
    correct = failed == 0 and attempted > 0

    print(f"perfbench {workload} seed={a.seed} seconds={a.seconds} trace={a.trace} "
          f"client={rec.get('client')} master={rec.get('master')}")
    samples = rec.get("samples", {})
    print(f"  samples: {samples.get('n')} ops ({samples.get('untraced')} untraced, "
          f"{samples.get('writes')} writes) over {fmt(samples.get('timed_s', 0.0))} s timed")
    for name, unit in END_TO_END + WORKLOAD_ONLY:
        v = e2e.get(name)
        print(f"  {name:30s} {'absent' if v is None else fmt(v)} {unit if v is not None else ''}")
    for f in rec.get("failures", [])[:10]:
        print(f"  FAILURE: {f}")
    layers = rec.get("layers")
    if a.trace == 1 and layers:
        print(f"  per-layer ({layers.get('traced_ops')} traced ops):")
        for name, m in sorted(layers["metrics"].items()):
            print(f"  {name:36s} {fmt(m['value'])} {m['unit']}")
        for name in layers.get("absent", []):
            print(f"  {name:36s} absent")
    print(f"  full record: {os.path.relpath(out, root)}")

    if a.trace == 0:
        if any(n not in e2e for n, _ in END_TO_END):
            fail(5, f"run measured no end-to-end metrics; record: {out}")
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}
    else:
        measured = (layers or {}).get("metrics", {})
        missing = [n for n, _ in PER_LAYER if n not in measured]
        if missing:
            fail(5, f"traced run did not measure {', '.join(missing)}; record: {out}")
        metrics = {n: {"value": measured[n]["value"], "unit": u} for n, u in PER_LAYER}
    print(json.dumps({"correct": correct, "attempted": max(1, attempted), "failed": failed,
                      "metrics": metrics}))
    sys.stdout.flush()


if __name__ == "__main__":
    sys.exit(main())
