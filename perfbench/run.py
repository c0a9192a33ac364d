#!/usr/bin/env python3
"""Benchmark of the load pipeline and the query library.

    python3 perfbench/run.py --workload <refresh|floor|tail> --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the harness and
the library from source with sbt (offline) and generates the input
tables; later runs reuse both. The harness runs the workload as a
closed loop, one client and one JVM on local[k], k = min(2, cores).
The last stdout line is one JSON object with `correct`, `attempted`,
`failed` and `metrics`: the end-to-end metrics of
BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1.
The line before it holds the details: sample counts, the percentile
each tail timing uses, failed_ratio, stored bytes per input byte, and
the host-contention canary and load average (recorded, never folded
into a metric).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import stats  # noqa: E402

# Scale factor of the generated tables, and how many untimed passes set
# a run up. Pass times keep falling for the first few passes of a JVM as
# the JIT compiles the planner and the generated code (floor: 8.6, 2.9,
# 2.5, then 2.0-2.3 s), so timing starts once they level off. refresh
# times its second pass: each dataset job of the reference deployment
# runs in a fresh process, so its users see a barely warm JVM.
WORKLOADS = {
    "refresh": {"sf": 0.01, "warmup": 1},
    "floor": {"sf": 0.01, "warmup": 3},
    "tail": {"sf": 0.1, "warmup": 2},
}
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 880

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(f"error: {msg}")
    sys.exit(1)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        fail("no Spark installation found (set SPARK_HOME)")
    return home, jars


def tree_digest(paths):
    h = hashlib.sha256()
    for top in paths:
        files = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def ensure_build(spark_home):
    lib = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(lib):
        fail(f"library sources not found under {os.path.relpath(lib)}")
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    stamp = os.path.join(WORK, "build.stamp")
    digest = tree_digest([os.path.join(ROOT, "src", "main"),
                          os.path.join(HERE, "src", "main"),
                          os.path.join(HERE, "build.sbt"),
                          os.path.join(HERE, "project", "build.properties")])
    if os.path.isdir(classes) and os.path.exists(stamp) and \
            open(stamp).read() == digest:
        return classes, False
    sbt = shutil.which("sbt")
    if not sbt:
        fail("sbt not found on PATH")
    env = dict(os.environ, SPARK_HOME=spark_home, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        repos = os.path.expanduser("~/.sbt/repositories")
        opts += (" -Dsbt.override.build.repos=true"
                 f" -Dsbt.repository.config={repos}" if os.path.exists(repos)
                 else "") + " -Dsbt.offline=true"
    env["SBT_OPTS"] = opts + " -Dsbt.server.autostart=false"
    log("building the harness and the library (sbt compile)")
    t0 = time.time()
    r = subprocess.run([sbt, "--batch", "-Dsbt.log.noformat=true", "Compile/products"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S)
    if r.returncode != 0 or not os.path.isdir(classes):
        fail("build failed")
    os.makedirs(WORK, exist_ok=True)
    with open(stamp, "w") as fh:
        fh.write(digest)
    log(f"built in {time.time() - t0:.0f} s")
    return classes, True


def ensure_data(sf):
    out = os.path.join(WORK, "data", f"sf{sf}")
    stamp = os.path.join(out, "datagen.stamp")
    digest = tree_digest([os.path.join(HERE, "datagen.py")])
    if not (os.path.exists(stamp) and open(stamp).read() == digest):
        shutil.rmtree(out, ignore_errors=True)
        datagen.write(out, sf)
        with open(stamp, "w") as fh:
            fh.write(digest)
    return out


def harness(classes, jars, tmp, *args):
    """The command line that runs perfbench.Harness with `args`."""
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else shutil.which("java")
    return [java] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={tmp}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", f"{classes}{os.pathsep}{os.path.join(jars, '*')}",
        "perfbench.Harness"] + [str(x) for x in args]


def read_expected(workload):
    path = os.path.join(HERE, "expected", f"{workload}.tsv")
    exp = {}
    if os.path.exists(path):
        for line in open(path):
            if line.strip() and not line.startswith("#"):
                name, rows, digest = line.rstrip("\n").split("\t")[:3]
                exp[name] = (int(rows), digest)
    return exp


def check(raw, expected):
    """(attempted, failed, problems) over every op of every pass."""
    all_passes = raw["warmup"] + raw["passes"]
    attempted, problems = 0, []
    n_tables = sum(rows for name, (rows, _) in expected.items()
                   if name.startswith("run:"))
    for i, p in enumerate(all_passes):
        for op in p["ops"]:
            attempted += 1
            name = op["name"]
            if op["error"]:
                problems.append(f"{name}: {op['error']}")
                continue
            if name not in expected:
                problems.append(f"{name}: no expected value")
                continue
            rows, digest = expected[name]
            if name == "vacuum":  # drops the previous pass's generation
                rows, digest = (0 if i == 0 else n_tables), ""
            got = (int(op["rows"]), op["hash"])
            if got != (rows, digest):
                problems.append(f"{name}: got {got}, expected {(rows, digest)}")
    return attempted, len(problems), problems


def end_to_end(raw):
    warm = raw["warmup"]
    measured = raw["passes"]
    ops = [op["s"] for p in measured for op in p["ops"]]
    n = len(ops)
    return {
        "setup_s": raw["session_s"] + sum(p["wall_s"] for p in warm),
        "cold_pass_s": warm[0]["wall_s"],
        "pass_s": statistics.median(p["wall_s"] for p in measured),
        "op_p50_s": stats.percentile(ops, 50),
        "peak_rss_mb": raw["peak_rss_mb"],
    }, {"op_p90_s": stats.percentile(ops, 90),
        "passes": len(measured), "op_samples": n,
        "op_p50_samples_beyond": stats.beyond(n, 50),
        "op_p90_samples_beyond": stats.beyond(n, 90),
        "op_tail_percentile": stats.tail_percentile(n),
        "pass_cpu_s": statistics.median(p["cpu_s"] for p in measured)}


def per_layer(raw, datasets):
    traced = [p for p in raw["passes"] if p["traced"]]
    plain = [p for p in raw["passes"] if not p["traced"]]
    per_pass = [stats.pass_layer_metrics(
        [tuple(s) for s in p["spans"]], p["counts"], p["wall_s"],
        raw["cores"], datasets) for p in traced]
    out = {k: statistics.median(m[k] for m in per_pass) for k in per_pass[0]}
    out["trace_overhead_ratio"] = (
        statistics.median(p["wall_s"] for p in traced)
        / statistics.median(p["wall_s"] for p in plain) - 1.0)
    extra = raw.get("extra", {})
    out["catalog.stored_bytes_per_input_byte"] = (
        extra["stored_bytes"] / extra["input_bytes"]
        if extra.get("input_bytes") else 0.0)
    return out, {"traced_passes": len(traced), "untraced_passes": len(plain)}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()
    conf = WORKLOADS[a.workload]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    spark_home, jars = spark_jars()
    classes, built = ensure_build(spark_home)
    data = ensure_data(conf["sf"])
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    list_file = os.path.join(HERE, "workloads", f"{a.workload}.txt")
    raw_file = os.path.join(run_dir, "raw.json")
    cmd = harness(classes, jars, os.path.join(run_dir, "tmp"), "run",
                  a.workload, a.seed, a.seconds, a.trace, conf["warmup"],
                  data, list_file, run_dir, raw_file)
    limit = (BUILD_LIMIT_S if built else RUN_LIMIT_S) - (time.time() - t_start)
    try:
        r = subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr,
                           stdin=subprocess.DEVNULL, timeout=max(limit, 1),
                           env=dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(
                               run_dir, "spark-local")))
    except subprocess.TimeoutExpired:
        fail("harness timed out")
    if r.returncode != 0 or not os.path.exists(raw_file):
        fail(f"harness exited with {r.returncode}")
    with open(raw_file) as fh:
        raw = json.load(fh)
    shutil.rmtree(os.path.join(run_dir, "warehouse"), ignore_errors=True)

    expected = read_expected(a.workload)
    attempted, failed, problems = check(raw, expected)
    for p in problems[:20]:
        log(f"check: {p}")

    all_passes = raw["warmup"] + raw["passes"]
    canaries = [c for p in all_passes
                for c in (p["canary_before_s"], p["canary_after_s"])]
    detail = {"workload": a.workload, "seed": a.seed, "cores": raw["cores"],
              "failed_ratio": failed / attempted,
              "host": {"canary_median_s": statistics.median(canaries),
                       "canary_max_s": max(canaries),
                       "loadavg_max": max(p["loadavg"] for p in all_passes)}}
    if a.trace == 0:
        values, more = end_to_end(raw)
        if raw.get("extra", {}).get("input_bytes"):
            more["stored_bytes_per_input_byte"] = (
                raw["extra"]["stored_bytes"] / raw["extra"]["input_bytes"])
        spec = bench["end_to_end"]
    else:
        values, more = per_layer(raw, [
            m["name"].split("runner.run_s.", 1)[1] for m in bench["per_layer"]
            if m["name"].startswith("runner.run_s.")])
        spec = bench["per_layer"]
    detail.update(more)
    metrics = {}
    for m in spec:
        if m["name"] not in values:
            fail(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": values[m["name"]], "unit": m["unit"]}
    print(json.dumps(detail))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
