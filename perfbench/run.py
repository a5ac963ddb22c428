#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <etl_load|query_mix> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It compiles the engine (src/main/scala) and
the benchmark harness (perfbench/src) with the Scala compiler that ships
in Spark's jar directory, runs the workload over the input tables in
perfbench/data in a fresh JVM with local[<cores>] and one client thread,
and prints one JSON line last: {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are BENCHMARK.json's end_to_end
list, with --trace 1 its per_layer list; a traced run also writes every span to
<build>/traces/<workload>-<seed>.json with its overhead against the last
untraced run of the same workload.

The build directory is $CARGO_TARGET_DIR, else .bench_build. Each run
works in a private directory under it (BuildCache root, Spark local dirs,
warehouse stores) that is deleted when the run ends.
"""
import argparse
import fcntl
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
DATA = os.path.join(HERE, "data")  # input tables, scale factor 0.01: 60k lineitem rows
WORKLOADS = ("etl_load", "query_mix")
RUN_TIMEOUT_S = 165
PREPARE_TIMEOUT_S = 600
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    import pyspark  # the pip distribution bundles the same jars
    return os.path.join(os.path.dirname(pyspark.__file__), "jars")


def sources(top):
    out = []
    for d, _, files in os.walk(top):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest_files(paths, extra=b""):
    h = hashlib.sha256(extra)
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def scalac(jars, classpath, out, srcs):
    os.makedirs(out)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath,
           "-d", out, "@" + argfile]
    subprocess.run(cmd, check=True, stdout=sys.stderr)


def build(build_dir, jars):
    """Compile engine and harness into <build>/classes-<stamp>/{main,bench}."""
    main_src = sources(os.path.join(ROOT, "src", "main", "scala"))
    bench_src = sources(os.path.join(HERE, "src"))
    if not main_src:
        raise SystemExit("perfbench: no engine sources under src/main/scala")
    stamp = digest_files(main_src + bench_src, "\n".join(sorted(os.listdir(jars))).encode())
    dst = os.path.join(build_dir, f"classes-{stamp}")
    if not os.path.isdir(dst):
        tmp = dst + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        t0 = time.time()
        jar_cp = os.path.join(jars, "*")
        scalac(jars, jar_cp, os.path.join(tmp, "main"), main_src)
        scalac(jars, os.pathsep.join([os.path.join(tmp, "main"), jar_cp]),
               os.path.join(tmp, "bench"), bench_src)
        os.rename(tmp, dst)
        log(f"compiled in {time.time() - t0:.1f} s")
    return dst


def prepared_cache(build_dir, classes, jars, data, cpus):
    """BuildCache tree for query_mix, filled once per build by running every
    query once; each run starts from a private copy of it."""
    tables = sorted(os.path.join(data, f) for f in os.listdir(data))
    dst = os.path.join(build_dir, "prepared-" + os.path.basename(classes) + "-" +
                       digest_files(tables))
    if not os.path.isdir(dst):
        tmp = dst + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        out = os.path.join(tmp, "result.json")
        args = ["--workload", "query_mix", "--seed", "0", "--seconds", "0", "--trace", "0",
                "--data", data, "--work", tmp, "--out", out,
                "--digests", os.path.join(HERE, "digests.tsv"), "--prepare", "1", "--cpus", str(cpus)]
        rc = run_jvm(classes, jars, tmp, args, PREPARE_TIMEOUT_S)
        if rc != 0:
            raise SystemExit(f"perfbench: preparing the BuildCache failed ({rc})")
        with open(out) as f:
            res = json.load(f)
        with open(os.path.join(tmp, "buildcache_s"), "w") as f:
            f.write(str(res["buildcache_s"]))
        for junk in ("local", "tmp", "spark-warehouse"):
            shutil.rmtree(os.path.join(tmp, junk), ignore_errors=True)
        os.rename(tmp, dst)
        log(f"prepared the BuildCache in {res['buildcache_s']:.1f} s")
    return dst


def prune_runs(runs_dir):
    """Delete work directories left by runs whose process is gone."""
    if not os.path.isdir(runs_dir):
        return
    for name in os.listdir(runs_dir):
        try:
            os.kill(int(name), 0)
        except (ValueError, ProcessLookupError):
            shutil.rmtree(os.path.join(runs_dir, name), ignore_errors=True)
        except PermissionError:
            pass


def run_jvm(classes, jars, work, args, timeout):
    cp = os.pathsep.join([os.path.join(classes, "main"), os.path.join(classes, "bench"),
                          os.path.join(jars, "*")])
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java", "-XX:-UsePerfData", "-Xmx3g", "-XX:+UseG1GC", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={tmp}"] + opens +
           ["-cp", cp, "perfbench.Harness"] + args)
    env = dict(os.environ,
               SPARK_GRAFT_CACHE_DIR=os.path.join(work, "whcache"),
               SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr,
                            start_new_session=True)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        log(f"harness exceeded {timeout} s; stopping it")
        return -1
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def main():
    # a terminated run still stops its JVM and deletes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", help="write observed query digests to this file")
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = spec["per_layer" if a.trace else "end_to_end"]
    build_dir = os.path.abspath(os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build")))
    os.makedirs(build_dir, exist_ok=True)
    jars = spark_jars()
    cpus = len(os.sched_getaffinity(0))
    with open(os.path.join(build_dir, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        prune_runs(os.path.join(build_dir, "runs"))
        classes = build(build_dir, jars)
        # part of the build, so only the first run in a checkout pays it
        prepared = prepared_cache(build_dir, classes, jars, DATA, cpus)
    work = os.path.join(build_dir, "runs", str(os.getpid()))
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--data", DATA, "--work", work,
                "--out", out, "--digests", os.path.join(HERE, "digests.tsv"), "--cpus", str(cpus)]
        if a.workload == "query_mix":
            args += ["--prepared", prepared]
        if a.record:
            args += ["--record", os.path.abspath(a.record)]
        rc = run_jvm(classes, jars, work, args, RUN_TIMEOUT_S)
        if rc != 0 or not os.path.exists(out):
            raise SystemExit(f"perfbench: harness exited with {rc}")
        with open(out) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for n in res["notes"]:
        log(n)
    log("info " + json.dumps(res["info"]))
    values = res["per_layer"] if a.trace else res["metrics"]
    missing = [m["name"] for m in declared if m["name"] not in values]
    if missing:
        raise SystemExit(f"perfbench: harness did not report {missing}")
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}

    last = os.path.join(build_dir, "last", f"{a.workload}.json")
    if a.trace:
        overhead = {}
        if os.path.exists(last):
            with open(last) as f:
                plain = json.load(f)
            overhead = {k + "_ratio": res["metrics"][k] / plain[k] for k in ("qps", "p50_s")}
            log(f"trace overhead against the last untraced run: {json.dumps(overhead)}")
        trace = os.path.join(build_dir, "traces", f"{a.workload}-{a.seed}.json")
        os.makedirs(os.path.dirname(trace), exist_ok=True)
        with open(trace, "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed, "overhead": overhead,
                       "metrics": res["metrics"], "per_layer": res["per_layer"],
                       "spans": res["spans"]}, f)
        log(f"{len(res['spans'])} spans written to {os.path.relpath(trace, ROOT)}")
    else:
        os.makedirs(os.path.dirname(last), exist_ok=True)
        with open(last, "w") as f:
            json.dump(res["metrics"], f)

    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
