#!/usr/bin/env python3
"""graft benchmark: build graft from source, stage seeded inputs, drive one
workload through graft's public entry points on `local[4]`, check every
result, and print every metric with its unit.

    python3 perfbench/run.py --workload job_gen --seed 1 --seconds 10 --trace 0

Run from the repository root. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are the end-to-end metrics of BENCHMARK.json, with --trace 1 the per-layer
ones (the span JSON is written under the build directory). Exits non-zero
when a check fails or the program cannot be built or run.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402


SCALA_VERSION = "2.13.17"


def spark_jars():
    """Jars of the Spark distribution graft builds against (build.sbt's
    unmanagedBase): $SPARK_HOME/jars, else those of the first spark-submit
    on PATH whose distribution ships the Scala compiler."""
    homes = [os.environ.get("SPARK_HOME", "")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        if os.path.isfile(submit):
            homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for h in homes:
        if h and os.path.exists(f"{h}/jars/scala-compiler-{SCALA_VERSION}.jar"):
            return f"{h}/jars"
    return ""


SPARK_JARS = spark_jars()
SETUP_REPS = 3          # input staging is repeated; setup_s takes the median
# A run after the build must end within 180 s; the JVM is killed at
# RUN_LIMIT_S after the build, leaving time for the checks (about 4 s) and
# the report. A traced run, the longest (the cold warm-up unit, then
# reference, traced and reference warm units), takes 85-90 s on 4 cores.
RUN_LIMIT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources(root):
    graft = sorted(glob.glob(f"{root}/src/main/scala/**/*.scala", recursive=True))
    bench = sorted(glob.glob(f"{HERE}/scala/*.scala"))
    if not graft:
        die(f"no graft sources under {root}/src/main/scala")
    return graft + bench


def build(root, build_dir):
    """Compile graft's main sources plus the harness with the Scala compiler
    shipped in the Spark jars; reuse the classes while sources are unchanged."""
    srcs = sources(root)
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = f"{build_dir}/classes"
    stamp_file = f"{build_dir}/classes.sha256"
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    jars = sorted(glob.glob(f"{SPARK_JARS}/*.jar"))
    compiler = [f"{SPARK_JARS}/scala-{n}-{SCALA_VERSION}.jar" for n in ("compiler", "library", "reflect")]
    if not all(os.path.exists(j) for j in compiler):
        die(f"scala {SCALA_VERSION} compiler jars not found in '{SPARK_JARS}' (set SPARK_HOME)")
    tmp = f"{build_dir}/classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.time()
    r = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss16m", "-cp", ":".join(compiler), "scala.tools.nsc.Main",
         "-nowarn", "-d", tmp, "-classpath", ":".join(jars)] + srcs,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout[-6000:], file=sys.stderr)
        die("build failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"perfbench: built {len(srcs)} sources in {time.time() - t0:.1f}s", file=sys.stderr)
    return classes


def stage_inputs(workload, seed, input_dir):
    times = []
    rows = None
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        rows = gen.stage(workload, seed, input_dir)
        times.append(time.perf_counter() - t0)
    return rows, statistics.median(times)


def run_jvm(classes, work, workload, input_dir, seconds, trace, deadline):
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # no hsperfdata file in the system temp directory
    cmd += ["-XX:-UsePerfData", "-Xmx3g", f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
            "-cp", f"{classes}:{SPARK_JARS}/*", "perfbench.Harness",
            "--workload", workload, "--input", input_dir, "--work", work,
            "--seconds", str(seconds), "--trace", "1" if trace else "0",
            "--launch-ms", str(int(time.time() * 1000))]
    with open(f"{work}/jvm.log", "w") as log:
        # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir: keep its
        # scratch files inside the work directory either way
        env = dict(os.environ, SPARK_LOCAL_DIRS=f"{work}/spark-local")
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                             start_new_session=True)
        try:
            p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            die(f"JVM did not finish in time (log: {work}/jvm.log)")
    if p.returncode != 0:
        die(f"JVM exited with {p.returncode} (log: {work}/jvm.log)")
    with open(f"{work}/result.json") as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    bench_json = f"{root}/BENCHMARK.json"
    if not os.path.exists(bench_json):
        die("run from the repository root (BENCHMARK.json not found)")
    spec = json.load(open(bench_json))
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        die(f"unknown workload {a.workload}")

    try:
        import oracle  # reads dev/compare.py's hashing rules
    except ImportError as e:
        die(f"cannot load the oracle check: {e}")

    build_dir = os.path.join(os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build")), "perfbench")
    os.makedirs(build_dir, exist_ok=True)
    classes = build(root, build_dir)
    deadline = time.time() + RUN_LIMIT_S

    work = f"{build_dir}/work/{a.workload}"
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(f"{work}/tmp")
    input_dir = f"{work}/input"
    rows, stage_s = stage_inputs(a.workload, a.seed, input_dir)

    t_jvm = time.time()
    res = run_jvm(classes, work, a.workload, input_dir, a.seconds, a.trace, deadline)
    t_chk = time.time()
    if "error" in res:
        die(f"workload failed: {res['error']} (log: {work}/jvm.log)")

    # ---- checks: JVM-side verdicts plus the DuckDB oracle on the dumps ----
    checks = [(c["name"], c["ok"], c["detail"]) for c in res["checks"]]
    checks += oracle.check_dumps(input_dir, res["dumps"], res["oracle_sql"])
    for name, ok, detail in checks:
        print(f"{'OK  ' if ok else 'FAIL'} {name}: {detail}", file=sys.stderr)
    print(f"perfbench: staging {stage_s:.1f}s x{SETUP_REPS}, JVM {t_chk - t_jvm:.1f}s, "
          f"checks {time.time() - t_chk:.1f}s", file=sys.stderr)
    ops = (res.get("warmup_op_s", []) + res.get("op_s", []) + res.get("reference_op_s", [])
           + res.get("traced_op_s", []))
    attempted = len(ops) + len(checks)
    failed = res["ops_failed"] + sum(1 for _, ok, _ in checks if not ok)

    # ---- metrics ----
    units = res.get("traced_unit_s") if a.trace else res["unit_s"]
    if a.trace:
        wanted = spec["per_layer"]
        values = dict(res.get("layers", {}), **{"jvm.peak_rss_mb": res["peak_rss_mb"]})
        print(f"perfbench: spans in {res.get('spans')}", file=sys.stderr)
    else:
        wall = statistics.mean(units)
        wanted = spec["end_to_end"]
        values = {
            "wall_s": wall,
            "rows_per_s": sum(rows.values()) / wall,
            "setup_s": stage_s + res["session_s"],
        }
    metrics = {}
    for m in wanted:
        v = values.get(m["name"], 0.0)
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        print(f"{m['name']:32s} {v:>16.6f} {m['unit']}")
    print(f"{'units':32s} {len(units):>16d} ({', '.join(f'{u:.1f}s' for u in units)}; ops {len(ops)}, "
          f"input rows {sum(rows.values())})")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
