#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result as a JSON line.

    python3 graftbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

BENCHMARK.json lists the serve and ingest workloads; curate runs the same
way but only on demand (see README.md).

Run it from the root of a graft checkout. The first call builds the
benchmark (graft's sources plus graftbench/src) with sbt; later calls reuse
the build while the sources are unchanged. Each run gets a fresh scratch
directory under .bench_build/runs (java.io.tmpdir, spark.local.dir,
warehouse and generated inputs), removed when the run ends. After a build,
one short untimed serve run records a class-data-sharing archive that the
measured runs map to start faster. A run record
(load, CPU time, canary timings and every workload-specific figure) is
kept under .bench_build/records.
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
WORK = os.path.join(ROOT, ".bench_build")
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "graftbench.classpath")
WORKLOADS = ("serve", "ingest", "curate")
RUN_TIMEOUT_S = 170
# the archive-recording run starts without the archive and may take longer
TRAINING_TIMEOUT_S = 400

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of everything the build reads from the checkout."""
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the benchmark unless an up-to-date build exists; returns its classpath."""
    stamp = source_stamp()
    if os.path.exists(CLASSPATH):
        with open(CLASSPATH) as fh:
            saved_stamp, cp = fh.read().split("\n", 1)
        if saved_stamp == stamp:
            return cp.strip(), stamp
    tmp = os.path.join(WORK, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    log("building the benchmark with sbt")
    t0 = time.time()
    out = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", f"-Djava.io.tmpdir={tmp}",
         "-Dsbt.server.autostart=false", "compile", "export Compile/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=sys.stderr, text=True, timeout=840)
    if out.returncode != 0:
        sys.stderr.write(out.stdout)
        raise SystemExit(f"build failed (sbt exit {out.returncode})")
    lines = [l for l in out.stdout.splitlines() if "graftbench" in l and "scala-2.13" in l]
    if not lines:
        sys.stderr.write(out.stdout)
        raise SystemExit("build produced no classpath")
    cp = lines[-1].strip()
    with open(CLASSPATH + ".tmp", "w") as fh:
        fh.write(stamp + "\n" + cp)
    os.replace(CLASSPATH + ".tmp", CLASSPATH)
    log(f"built in {time.time() - t0:.0f} s")
    return cp, stamp


def remove_stale_runs(runs):
    """Removes scratch dirs left by runs that were killed before cleaning up."""
    for name in os.listdir(runs) if os.path.isdir(runs) else []:
        pid = name.rsplit("-", 1)[-1]
        try:
            os.kill(int(pid), 0)
            continue  # still running
        except (ValueError, ProcessLookupError):
            pass
        except PermissionError:
            continue
        log(f"removing scratch of a dead run: {name}")
        shutil.rmtree(os.path.join(runs, name), ignore_errors=True)


def run_jvm(cp, jvm_opts, workload, seed, seconds, trace, record, timeout=RUN_TIMEOUT_S):
    """Runs graftbench.Main in a fresh scratch directory; returns (exit code, stdout)."""
    runs = os.path.join(WORK, "runs")
    remove_stale_runs(runs)
    run_dir = os.path.join(runs, f"{workload}-s{seed}-t{trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    # a fixed heap and young generation, so that garbage collection does not
    # depend on where adaptive sizing settles in each run
    cmd = [java, "-Xms2g", "-Xmx2g", "-Xmn768m", "-XX:-UseAdaptiveSizePolicy",
           "-XX:+UseParallelGC", "-XX:ParallelGCThreads=2",
           f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
           "-Xlog:disable", "-Xlog:all=error:stderr"] + jvm_opts
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", trace, "--run-dir", run_dir, "--record", record]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"run exceeded {timeout} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
    return proc.returncode, out


def class_archive(cp, stamp):
    """Class-data-sharing archive of a build: a short serve run, made once
    per build, dumps the classes it loaded; every measured run maps them
    instead of loading them again, so no measured run pays the dump."""
    cds = os.path.join(WORK, "cds", f"{stamp[:16]}.jsa")
    if not os.path.exists(cds):
        os.makedirs(os.path.dirname(cds), exist_ok=True)
        log("recording the class-data-sharing archive")
        code, _ = run_jvm(cp, [f"-XX:ArchiveClassesAtExit={cds}"], "serve", 0, 1, "0",
                          os.path.join(WORK, "cds", "training-record.json"), TRAINING_TIMEOUT_S)
        if code != 0 or not os.path.exists(cds):
            raise SystemExit("recording the class-data-sharing archive failed")
    return cds


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit(f"graft sources not found under {ROOT}/src/main/scala/graft; "
                         "run from the root of a graft checkout")
    cp, stamp = build()
    cds = class_archive(cp, stamp)

    records = os.path.join(WORK, "records")
    os.makedirs(records, exist_ok=True)
    record = os.path.join(records, f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}.json")
    code, out = run_jvm(cp, [f"-XX:SharedArchiveFile={cds}"], args.workload, args.seed,
                        args.seconds, args.trace, record)
    lines = out.strip().splitlines()
    if code != 0 or not lines:
        raise SystemExit(f"benchmark exited with {code}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise SystemExit(f"malformed result line: {lines[-1]}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
