#!/usr/bin/env python3
"""Benchmark command: one run of one workload.

    python3 perfbench/run.py --workload <dialect_sql|scd_sync>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run in a checkout compiles the
program with the harness (sbt, perfbench/build.sbt) and generates the
fixtures; both are cached under `.perfbench/` and rebuilt when their
inputs change. Each run then starts one JVM that sets the session up,
runs the workload's closed loop and writes what it measured; this script
checks the outputs against DuckDB and prints one JSON line last:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
The line before it carries the run's context (seed, fixture digest,
session confs, CPU count, fixture sizes, tail percentile used).
Exits non-zero when any output is wrong or an operation fails.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
DEADLINE_S = 170
# Fixture generation: scale 1.0 is the size of the test data's sf0.1, so
# 0.1 is the size of its sf0.01.
SCALE, FIXTURE_SEED = 0.1, 42
FIXTURE_VERSION = "1"
WORKLOADS = ("dialect_sql", "scd_sync")
# Kept out of development; used once to confirm a claim (see DESIGN.md).
HELD_OUT_SEED = 9001
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
T0 = time.monotonic()


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def digest(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def files_under(*dirs, pattern="**/*"):
    out = []
    for d in dirs:
        out += [p for p in glob.glob(os.path.join(d, pattern), recursive=True)
                if os.path.isfile(p)]
    return out


def remaining():
    return DEADLINE_S - (time.monotonic() - T0)


def spark_home():
    """SPARK_HOME, or the installation that `spark-submit` on PATH runs from."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation with a jars/ directory: set SPARK_HOME")
    return home


def spark_jars():
    return os.path.join(spark_home(), "jars", "*")


def java_cmd(main, args):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    opens = [f"--add-opens={p}=ALL-UNNAMED" for p in JAVA_OPENS]
    cp = os.path.join(HERE, "target", "scala-2.13", "classes") + os.pathsep + spark_jars()
    # no hsperfdata: the JVM would write it under /tmp
    return [java, *opens, "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:TieredStopAtLevel=1", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={WORK}/tmp",
            f"-Dderby.stream.error.file={WORK}/derby.log",
            "-cp", cp, main, *args]


def run_logged(cmd, cwd, logfile, timeout):
    with open(logfile, "w") as lf:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(1, timeout))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"timed out: {' '.join(cmd[:2])} ... (log {logfile})")
    if rc != 0:
        with open(logfile) as lf:
            tail = lf.read()[-4000:]
        fail(f"command failed ({rc}): {cmd[-8:]}\n{tail}")


def ensure_build():
    """Compile the program and the harness when their sources changed."""
    sources = files_under(os.path.join(ROOT, "src", "main"),
                          os.path.join(HERE, "src"))
    sources += [os.path.join(HERE, "build.sbt"),
                os.path.join(HERE, "project", "build.properties")]
    want = digest(sources)
    stamp = os.path.join(WORK, "build.stamp")
    if os.path.exists(stamp) and open(stamp).read() == want:
        return
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    log("building (sbt compile) ...")
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    with open(os.path.join(WORK, "build.log"), "w") as lf:
        # copyResources: `compile` alone leaves out the program's
        # META-INF/services, which registers the graft-delta source
        rc = subprocess.call(["sbt", "-batch", "-J-XX:-UsePerfData",
                              "-Dsbt.log.noformat=true", "compile",
                              "Compile / copyResources"],
                             cwd=HERE, stdout=lf, stderr=subprocess.STDOUT, env=env,
                             stdin=subprocess.DEVNULL)
    if rc != 0:
        fail(f"build failed; see {WORK}/build.log")
    with open(stamp, "w") as f:
        f.write(want)


def ensure_fixtures():
    """Generate the parquet tables and build the Delta fixtures once per
    fixture definition. Returns (fixture dir, digest)."""
    import fixtures
    defn = digest([os.path.join(HERE, "fixtures.py"),
                   os.path.join(HERE, "src", "main", "scala", "perfbench", "Prepare.scala"),
                   os.path.join(ROOT, "scripts", "gen_scale_data.py")])
    key = f"v{FIXTURE_VERSION}-{defn}"
    fx = os.path.join(WORK, "fixtures", key)
    ready = os.path.join(fx, "ready.json")
    if os.path.exists(ready):
        return fx, json.load(open(ready))["digest"]
    shutil.rmtree(os.path.dirname(fx), ignore_errors=True)  # stale definitions too
    log(f"generating fixtures into {fx} ...")
    fixtures.generate(os.path.join(fx, "tables"), SCALE, FIXTURE_SEED)
    run_logged(java_cmd("perfbench.Prepare", [fx, WORK]), ROOT,
               os.path.join(WORK, "prepare.log"), 850)
    d = digest(files_under(os.path.join(fx, "tables"), pattern="*.parquet"))
    with open(ready, "w") as f:
        json.dump({"digest": d}, f)
    return fx, d


def dir_bytes(d):
    return sum(os.path.getsize(p) for p in files_under(d))


def fixture_sizes(fx):
    sizes = {}
    for p in sorted(glob.glob(os.path.join(fx, "tables", "*.parquet"))):
        sizes[f"tables/{os.path.basename(p)}"] = os.path.getsize(p)
    for p in sorted(glob.glob(os.path.join(fx, "delta", "*")) +
                    glob.glob(os.path.join(fx, "scd", "*"))):
        sizes[os.path.relpath(p, fx)] = dir_bytes(p)
    return sizes


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    for need in (os.path.join(ROOT, "src", "main", "scala", "graft"),
                 os.path.join(ROOT, "scripts", "oracle_check.py"),
                 os.path.join(ROOT, "scripts", "gen_scale_data.py")):
        if not os.path.exists(need):
            fail(f"not a checkout of the program: {need} is missing")
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    sys.path.insert(0, HERE)
    import check
    import metrics

    ensure_build()
    fx, fx_digest = ensure_fixtures()
    global T0
    T0 = time.monotonic()  # the run's own deadline starts after build and fixtures

    # reset the mutable fixtures to their generated bytes
    run_dir = os.path.join(WORK, "run", a.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    if a.workload == "scd_sync":
        shutil.copytree(os.path.join(fx, "scd"), os.path.join(run_dir, "scd"))
    out = os.path.join(WORK, "out", f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)

    run_logged(java_cmd("perfbench.Harness",
                        [a.workload, str(a.seed), repr(a.seconds), str(a.trace),
                         fx, run_dir, out]),
               ROOT, os.path.join(out, "harness.log"), remaining() - 15)
    raw = json.load(open(os.path.join(out, "raw.json")))

    # output checks
    res = raw["checks"]
    wrong, extra, msgs = [], 0, []
    if a.workload == "dialect_sql":
        wrong, m = check.statements(res["statements"], os.path.join(fx, "tables"))
        msgs += m
        for fn, recs in ((check.lookups, res["lookups"]),
                         (check.table_calls, res["table_calls"])):
            bad, m = fn(recs, os.path.join(fx, "tables"))
            extra += bad
            msgs += m
    else:
        ok, m = check.scd(res["checks"])
        msgs += m
        if not ok:
            wrong = sorted({o["name"] for o in raw["ops"]})
    msgs += [f"op {o['id']} {o['name']}: {o['error']}" for o in raw["ops"] if not o["ok"]]
    for m in msgs:
        log(f"WRONG {m}")
    failed = metrics.count_failures(raw["ops"], wrong, extra)

    e2e, info = metrics.end_to_end(raw, failed)
    if a.trace:
        untraced = metrics.untraced_warm_p50(raw)
        values = metrics.per_layer(raw, untraced, failed, res.get("rows_changed", 0),
                                   res.get("bytes_added", 0))
        info["untraced_op_p50_ms"] = untraced
    else:
        values = {k: e2e[k] for k in ("setup_s", "cold_op_ms", "op_p50_ms",
                                      "op_tail_ms", "ops_per_s", "peak_rss_mb")}
        info["op_fail_ratio"] = e2e["op_fail_ratio"]
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    units = {m["name"]: m["unit"]
             for m in bench["per_layer" if a.trace else "end_to_end"]}
    context = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "held_out_seed": HELD_OUT_SEED,
        "fixture_digest": fx_digest, "cpus": raw["cpus"],
        "confs": raw["confs"], "fixture_sizes_bytes": fixture_sizes(fx),
        "setup_s_samples": raw["setup_s"],
        "process_to_ready_ms": raw["process_to_ready_ms"],
        "calibration": raw["calibration"], **info,
        "artifacts": os.path.relpath(out, ROOT)}
    with open(os.path.join(out, "summary.json"), "w") as f:
        json.dump({"context": context, "values": values}, f, indent=1)
    print(json.dumps({"context": context}))
    print(json.dumps({
        "correct": failed == 0, "attempted": len(raw["ops"]), "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units}}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
