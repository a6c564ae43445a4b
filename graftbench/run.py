#!/usr/bin/env python3
"""End-to-end benchmark of the graft engine: the `etl` and `queries`
workloads (see README.md).

    python3 graftbench/run.py --workload etl --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the engine and the
harness with sbt into .bench_build/; later runs reuse the build while the
sources are unchanged. Each run generates its inputs from the seed, computes
the DuckDB oracle results, launches one measuring JVM and prints, as the
last line of stdout, one JSON object with `correct`, `attempted`, `failed`
and `metrics` (end-to-end metrics with --trace 0, per-layer with --trace 1).
The line before it is the run's context: box facts, JVM flags, effective
Spark config and the pass samples.
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
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ("etl", "queries")
# Limit for a run after the build; the JVM stops starting passes well before it.
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

# C1 only, with the tiered default code cache. Under C2 a pass was still
# 20-25 % faster on the second measured pass than on the first, a minute into
# the run, at a pace that varied from JVM to JVM; its compiler threads kept
# ~3 of 4 cores busy. Under C1 passes level off after the cold one and the
# process uses ~1.4 cores. (C1's default 48 MB code cache filled on `etl`
# and made every other pass 25 % slower.)
JIT = ["-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=240m"]

# Spark's JDK 17 module options (org.apache.spark.launcher.JavaModuleOptions).
JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "jdk.internal.ref", "sun.nio.ch", "sun.nio.cs", "sun.security.action",
    "sun.util.calendar")] + [
    "-XX:+IgnoreUnrecognizedVMOptions", "-Djdk.reflect.useDirectMethodHandle=false",
    "-Dio.netty.tryReflectionSetAccessible=true"]


def log(msg):
    print(f"[graftbench] {msg}", file=sys.stderr, flush=True)


def heap_gb():
    """Half the box's memory in GiB, clamped to [2, 4]: the engine's verify
    rule (clamped to [2, 8]) with a lower ceiling, since these inputs peak
    near 1 GB after GC and the box may be shared."""
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return max(2, min(4, kb // (2 * 1024 * 1024)))


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(BENCH, "src", "main"), ENGINE_SRC]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for p in sorted(files):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def run_checked(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, err = p.communicate(timeout=timeout)
    except BaseException as e:  # a timeout, or SIGTERM/SIGINT on the launcher
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        if isinstance(e, subprocess.TimeoutExpired):
            raise RuntimeError(f"{cmd[0]} timed out after {timeout} s")
        raise
    if p.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd[:3])} ... exited {p.returncode}")
    return out


def ensure_built():
    """Compiles engine + harness with sbt when the sources changed; records
    the runtime classpath and the workloads' oracle SQL."""
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    if shutil.which("sbt") is None:
        raise RuntimeError("sbt is not on PATH")
    os.makedirs(BUILD, exist_ok=True)
    log("building engine and harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    with open(os.path.join(BUILD, "build.log"), "w") as blog:
        run_checked(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                    BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdout=blog, stderr=subprocess.STDOUT,
                    stdin=subprocess.DEVNULL)
    oracles = run_checked(java_cmd("1g") + ["graftbench.Main", "--dump-oracles", "1"], 120,
                          cwd=BUILD, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL)
    with open(os.path.join(BUILD, "oracles.json"), "wb") as f:
        f.write(oracles.strip().splitlines()[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)


def java_cmd(heap, tmp=None):
    with open(os.path.join(BUILD, "classpath.txt")) as f:
        cp = f.read().strip()
    cmd = ["java", f"-Xms{heap}", f"-Xmx{heap}", "-Dspark.ui.enabled=false"] + JIT + JAVA_OPENS
    if tmp:
        cmd += [f"-Djava.io.tmpdir={tmp}"]
    return cmd + ["-cp", cp]


def parse_args():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def main():
    args = parse_args()
    t_start = time.time()
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        log(f"engine sources not found under {ENGINE_SRC}; run from a full checkout")
        return 2
    sys.dont_write_bytecode = True
    sys.path.insert(0, BENCH)
    import inputs

    ensure_built()
    build_s = time.time() - t_start
    t_start = time.time()  # the run's own time limit starts after the build
    work = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    tmp = os.path.join(work, "tmp")
    for d in (data, tmp, os.path.join(work, "local")):
        os.makedirs(d)
    try:
        t0 = time.time()
        with open(os.path.join(BUILD, "oracles.json")) as f:
            sqls = json.load(f)[args.workload]
        inputs.prepare(args.workload, args.seed, data, sqls)
        inputs_s = time.time() - t0
        # Digests of earlier runs are kept per seed and per input content,
        # so a changed generator starts a new record instead of failing.
        h = hashlib.sha256()
        for f in sorted(os.listdir(data)):
            with open(os.path.join(data, f), "rb") as fh:
                h.update(f.encode() + hashlib.sha256(fh.read()).digest())
        digests = os.path.join(BUILD, "digests", f"{args.workload}-{args.seed}-{h.hexdigest()[:16]}.txt")

        env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
        env["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
        jvm_log = os.path.join(work, "jvm.log")
        cmd = java_cmd(f"{heap_gb()}g", tmp) + [
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "graftbench.Main", "--workload", args.workload, "--data", data, "--work", work,
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--digests", digests,
            "--launched-ns", str(time.time_ns())]
        with open(jvm_log, "w") as err:
            try:
                out = run_checked(cmd, RUN_TIMEOUT_S - (time.time() - t_start), cwd=work, env=env,
                                  stdout=subprocess.PIPE, stderr=err, stdin=subprocess.DEVNULL)
            except RuntimeError:
                with open(jvm_log) as f:
                    sys.stderr.write("".join(f.readlines()[-40:]))
                raise
        lines = out.decode().splitlines()
        context = json.loads(next(l for l in lines if l.startswith("BENCH_CONTEXT "))[14:])
        result = json.loads(next(l for l in lines if l.startswith("BENCH_RESULT "))[13:])
        context.update(seed=args.seed, inputs_s=inputs_s, build_s=build_s,
                       wall_s=build_s + time.time() - t_start)
        print(json.dumps({"context": context}))
        print(json.dumps(result))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    # SIGTERM unwinds like an error, so the JVM is killed and the run
    # directory removed on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        sys.exit(main())
    except Exception as e:  # noqa: BLE001 - report and exit non-zero without a result
        log(f"error: {e}")
        sys.exit(1)
