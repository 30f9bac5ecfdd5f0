#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first run in a checkout compiles the engine sources (src/main) together
with the benchmark sources (perfbench/src) using sbt, offline; later runs
reuse the build until a source file changes. Each run starts one JVM with
Spark in local mode on every core, writes only under perfbench/.work, and
prints a detail line followed by the result line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics (0 for a layer the workload does not
exercise). A traced run's detail line carries its tracing overhead against
the untraced run of the same workload, seed, window and build, or null when
this checkout has not made that run. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
BUILD = os.path.join(HERE, ".build")
ENGINE_SRC = os.path.join(ROOT, "src", "main")
WORKLOADS = ("batch_library", "cdc_updates")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

# per-layer metrics a workload never exercises: reported as 0; every other
# per-layer metric must come from the run
NOT_EXERCISED = {
    "batch_library": ("stream.", "cdc.", "view.", "views.", "sink.", "state.",
                      "generator.", "spark.jobs_per_batch",
                      "spark.tasks_per_batch", "spark.shuffle_bytes_per_batch"),
    "cdc_updates": ("memo.", "operators."),
}

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_bounded(cmd, cwd, env, timeout, stdout, stderr):
    """Run cmd in its own process group; kill the group on timeout or on
    interruption, and always wait for it to end."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout,
                            stderr=stderr, start_new_session=True)

    def stop(*_):
        for sig in (signal.SIGTERM, signal.SIGKILL):
            try:
                os.killpg(proc.pid, sig)
            except ProcessLookupError:
                return
            try:
                proc.wait(timeout=10)
                return
            except subprocess.TimeoutExpired:
                pass

    old = {s: signal.signal(s, lambda *a: (stop(), sys.exit(3)))
           for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        stop()
        return None
    finally:
        stop()
        for s, h in old.items():
            signal.signal(s, h)


def fingerprint():
    h = hashlib.sha1()
    for base in (ENGINE_SRC, os.path.join(HERE, "src"),
                 os.path.join(HERE, "build.sbt"),
                 os.path.join(HERE, "project", "build.properties")):
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{os.path.relpath(p, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n"
                     .encode())
    return h.hexdigest()


def build(fp):
    """Compile with sbt (offline) unless the sources are unchanged; return
    the runtime classpath."""
    cp_file = os.path.join(BUILD, "classpath")
    fp_file = os.path.join(BUILD, "fingerprint")
    if os.path.exists(cp_file) and os.path.exists(fp_file):
        with open(fp_file) as f:
            if f.read().strip() == fp:
                with open(cp_file) as g:
                    return g.read().strip()
    if shutil.which("sbt") is None:
        die("sbt not found on PATH")
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "sbt.log")
    with open(log, "w") as out:
        code = run_bounded(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export Runtime/fullClasspath"],
            HERE, env, BUILD_TIMEOUT_S, out, subprocess.STDOUT)
    with open(log) as f:
        lines = [l.strip() for l in f]
    cps = [l for l in lines if not l.startswith("[") and "classes" in l
           and os.pathsep in l]
    if code != 0 or not cps:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        die(f"build failed (exit {code}); see {log}", 1)
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(fp_file, "w") as f:
        f.write(fp)
    return cps[-1]


def run_jvm(classpath, args):
    """Run one benchmark JVM; return its result object."""
    run_dir = os.path.join(WORK, "run")
    tmp = os.path.join(WORK, "tmp")
    for d in (run_dir, tmp):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    out_file = os.path.join(run_dir, "result.json")
    java = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # a fixed heap: heap resizing during the few batches a run measures
    # moved batch times by up to a third between runs of the same code
    java += [
        "-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-Dspark.sql.streaming.numRecentProgressUpdates=100000",
        f"-Dderby.stream.error.file={os.path.join(run_dir, 'derby.log')}",
        "-cp", classpath, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", run_dir, "--out", out_file,
    ]
    cpus = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") \
        else os.cpu_count() or 1
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    env.pop("SPARK_MASTER", None)
    log = os.path.join(WORK, f"{args.workload}-trace{args.trace}.log")
    with open(log, "w") as err:
        code = run_bounded(java, run_dir, env, RUN_TIMEOUT_S,
                           subprocess.DEVNULL, err)
    if code != 0 or not os.path.exists(out_file):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        die(f"run failed (exit {code}); see {log}", 1)
    with open(out_file) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    if args.seconds < 1:
        die("--seconds must be at least 1")
    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala")):
        die(f"engine sources not found under {ENGINE_SRC}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    fp = fingerprint()
    classpath = build(fp)
    res = run_jvm(classpath, args)

    detail = res["detail"]
    metrics = res["metrics"]
    # the untraced run of this workload, seed, window and build: the
    # baseline of a traced run's overhead
    untraced = os.path.join(WORK, f"untraced-{args.workload}-{args.seed}-"
                            f"{args.seconds}-{fp[:16]}.json")
    if args.trace:
        base = None
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["warm_s"]
        detail["untraced_warm_s"] = base
        detail["trace_overhead_s"] = \
            None if base is None else detail["warm_s"] - base
        wanted = spec["per_layer"]
        for m in wanted:
            if m["name"].startswith(NOT_EXERCISED[args.workload]):
                metrics.setdefault(m["name"], {"value": 0.0, "unit": m["unit"]})
    else:
        with open(untraced, "w") as f:
            json.dump({"warm_s": detail["warm_s"]}, f)
        wanted = spec["end_to_end"]
    names = [m["name"] for m in wanted]
    missing = [n for n in names if n not in metrics]
    if missing:
        die(f"run produced no value for {missing}", 1)
    result = {
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {n: metrics[n] for n in names},
    }
    print(json.dumps({"detail": detail}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
