#!/usr/bin/env python3
"""CDC engine benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
benchmark code from source with sbt (classes and classpath land in
.bench_build/); later runs reuse that build while the sources are
unchanged. Each run then starts one JVM (graft.perfbench.Main) that sets
up the workload's inputs under .bench_build/work/, times the workload for
--seconds, checks every result against its oracle and writes its figures.

stdout ends with two JSON lines: a report line with the workload's named
figures, sample counts and input sizes, then the result line
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end metrics of BENCHMARK.json, with --trace 1 the per-layer
ones. The JVM's own log goes to .bench_build/logs/.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("catchup", "serve_reads")
HEAP = "3g"
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
# Spark 4 on JDK 17 outside spark-submit needs these module openings
# (org.apache.spark.launcher.JavaModuleOptions).
OPENS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", p + "=ALL-UNNAMED")]
# The engine's println timing probes and query filter must be off.
SCRUBBED_ENV = ("GRAFT_MERGE_TIMING", "GRAFT_INGEST_TIMING", "GRAFT_SCD2_TIMING",
                "GRAFT_PIPELINE_TIMING", "GRAFT_CDCOPS_TIMING", "GRAFT_STAGE_TIMING",
                "SPARK_GRAFT_ONLY")


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    return 1


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(BENCH, "project", "build.properties"), os.path.join(BENCH, "build.sbt")]
    for r in roots:
        if os.path.isfile(r):
            yield r
        for d, _, fs in sorted(os.walk(r)):
            for f in sorted(fs):
                yield os.path.join(d, f)


def build():
    """Compile with sbt unless .bench_build already holds this exact source tree."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == h.hexdigest():
        return open(cp_file).read().strip()
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    for f in (stamp, cp_file):
        if os.path.exists(f):
            os.remove(f)
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS="-Dsbt.offline=true -Dsbt.server.autostart=false -Xmx2g")
    with open(os.path.join(BUILD, "logs", "build.log"), "w") as log:
        rc = run_child(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdout=log)
        if rc != 0 or not os.path.exists(cp_file):
            return None
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    return open(cp_file).read().strip()


_children = []


def _stop_children(signum, _frame):
    for p in _children:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    sys.exit(128 + signum)


def run_child(cmd, timeout, **kw):
    """Run `cmd` in its own process group and wait for it. On timeout, or
    when this launcher is told to stop, kill the group and reap it.
    Returns the exit code, or None after a timeout."""
    p = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, stderr=subprocess.STDOUT,
                         start_new_session=True, **kw)
    _children.append(p)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    finally:
        _children.remove(p)


def expected_metrics(trace):
    spec = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec):
        return None
    with open(spec) as fh:
        b = json.load(fh)
    return {m["name"]: m["unit"] for m in b["per_layer" if trace else "end_to_end"]}


def work_dir_facts(path):
    """Filesystem type of `path` and the kernel's dirty-page writeback settings."""
    real, fs, best = os.path.realpath(path), "unknown", ""
    try:
        with open("/proc/mounts") as fh:
            for line in fh:
                _, mnt, typ = line.split()[:3]
                if (real == mnt or real.startswith(mnt.rstrip("/") + "/")) and len(mnt) > len(best):
                    best, fs = mnt, typ
    except OSError:
        pass
    flush = {}
    for k in ("dirty_ratio", "dirty_background_ratio", "dirty_expire_centisecs",
              "dirty_writeback_centisecs"):
        try:
            with open(f"/proc/sys/vm/{k}") as fh:
                flush[k] = int(fh.read())
        except (OSError, ValueError):
            pass
    return {"fs": fs, "fsync": "none", "writeback": flush}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        return fail(f"no engine sources under {ROOT}/src/main/scala: nothing to benchmark")
    cp = build()
    if cp is None:
        return fail("build failed; see .bench_build/logs/build.log")

    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    env = {k: v for k, v in os.environ.items() if k not in SCRUBBED_ENV}
    env["GRAFT_WORK_DIR"] = os.path.join(work, "tmp")
    cmd = ["java", f"-Xmx{HEAP}", *OPENS, f"-Djava.io.tmpdir={work}/tmp",
           "-cp", cp, "graft.perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", a.trace, "--work", work, "--out", out,
           "--launched-ms", str(int(time.time() * 1000))]
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    log_path = os.path.join(BUILD, "logs", f"{a.workload}-{a.seed}-t{a.trace}.log")
    with open(log_path, "w") as log:
        rc = run_child(cmd, RUN_TIMEOUT_S, cwd=ROOT, env=env, stdout=log)
    if rc != 0 or not os.path.exists(out):
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        return fail(f"run exited with {rc}; log in {log_path}")

    with open(out) as fh:
        res = json.load(fh)
    want = expected_metrics(a.trace == "1")
    got = {n: m["unit"] for n, m in res["metrics"].items()}
    if want is not None and got != want:
        return fail(f"metrics {sorted(got.items())} differ from BENCHMARK.json {sorted(want.items())}")
    report = dict(res["report"], heap=HEAP, work_dir=work_dir_facts(work))
    print(json.dumps({"report": report}))
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, _stop_children)
    signal.signal(signal.SIGINT, _stop_children)
    sys.exit(main())
