#!/usr/bin/env python3
"""Connector benchmark command.

Run from the root of a checkout:

    python3 connbench/run.py --workload connector_scan --seed 1 --seconds 10 --trace 0

The first run builds the engine's main sources together with the benchmark
(sbt, offline) into the build directory ($CARGO_TARGET_DIR, default
.bench_build); later runs reuse that build while the sources are unchanged.
Each run starts a fresh JVM whose data, Spark scratch space and temp files
live in a per-run directory that is deleted afterwards. The last line of
standard output is the result object; the line before it records the run
(seed, cpus, heap, JDK, data sizes). Traced runs (--trace 1) also leave
their spans (JSONL) and a self-time summary under <build>/trace/.

Extra options, used by the benchmark's own tests:
  --scale F          shrink every data size by F (default 1)
  --wrong-checksum 1 corrupt one expected result (the run must fail)
  --check NAME       run a named self-check instead of a workload
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

_child = None


def log(msg):
    print("connbench: " + msg, file=sys.stderr, flush=True)


def source_files(root):
    """Every file whose change requires a rebuild, in a stable order."""
    dirs = [os.path.join(root, "src", "main"), os.path.join(root, "connbench", "src")]
    files = [os.path.join(root, "connbench", "build.sbt"),
             os.path.join(root, "connbench", "project", "build.properties")]
    for d in dirs:
        for base, subdirs, names in os.walk(d):
            subdirs.sort()
            files += [os.path.join(base, n) for n in sorted(names)]
    return files


def stamp(root):
    h = hashlib.sha256()
    for f in source_files(root):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root, build_dir):
    """Compile with sbt unless a build of the same sources exists; returns
    the runtime classpath."""
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp_file = os.path.join(build_dir, "stamp")
    want = stamp(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == want:
                with open(cp_file) as fh:
                    return fh.read().strip()
    os.makedirs(build_dir, exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    log("building (sbt) into " + build_dir)
    out = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true",
                     "-Dconnbench.target=" + build_dir, "printClasspath"],
                    cwd=os.path.join(root, "connbench"), env=env,
                    timeout=BUILD_TIMEOUT_S, capture=True)
    if out is None:
        return None
    cp = [line[len("CLASSPATH="):] for line in out.splitlines() if line.startswith("CLASSPATH=")]
    if not cp:
        return None
    with open(cp_file, "w") as fh:
        fh.write(cp[-1] + "\n")
    with open(stamp_file, "w") as fh:
        fh.write(want + "\n")
    return cp[-1]


def run_child(cmd, cwd, env, timeout, capture):
    """Run a child process to completion (killing it on timeout); return
    its stdout when `capture`, or its exit code. None on failure."""
    global _child
    try:
        _child = subprocess.Popen(cmd, cwd=cwd, env=env, stdin=subprocess.DEVNULL,
                                  stdout=subprocess.PIPE if capture else sys.stderr,
                                  stderr=sys.stderr, text=True, start_new_session=True)
    except OSError as e:
        log("cannot start %s: %s" % (cmd[0], e))
        return None
    try:
        out, _ = _child.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        log("%s timed out after %d s" % (cmd[0], timeout))
        stop_child()
        return None
    code = _child.returncode
    _child = None
    if capture:
        if code != 0:
            log("%s exited with %d" % (cmd[0], code))
            return None
        return out
    return code


def stop_child():
    global _child
    if _child is not None and _child.poll() is None:
        try:
            os.killpg(_child.pid, signal.SIGKILL)
        except OSError:
            pass
        _child.wait()
    _child = None


def heap_gb():
    """Half of MemTotal, clamped to [2, 3] GiB: the engine's test sizing
    (clamped to [2, 8]) capped at what the workloads need, because the
    heap is pre-touched."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    g = int(line.split()[1]) // 2097152
                    return max(2, min(3, g))
    except OSError:
        pass
    return 2


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0)
    p.add_argument("--wrong-checksum", type=int, choices=(0, 1), default=0)
    p.add_argument("--check", default=None)
    a = p.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")) or \
            not os.path.isfile(os.path.join(root, "connbench", "build.sbt")):
        log("run from the root of a checkout (src/main/scala and connbench/build.sbt)")
        return 2
    build_dir = os.path.abspath(os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build")))
    classpath = build(root, build_dir)
    if classpath is None:
        log("build failed")
        return 3

    run_dir = os.path.join(build_dir, "runs", "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    out_file = os.path.join(run_dir, "result.jsonl")
    here = os.path.dirname(os.path.abspath(__file__))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    # fixed, pre-touched heap and young generation: the collector does not
    # resize between runs and heap pages are resident from the start, so
    # peak RSS moves with native memory and heap size, not with GC timing
    heap = heap_gb()
    cmd = [java, "-Xms%dg" % heap, "-Xmx%dg" % heap, "-Xmn1g", "-XX:+AlwaysPreTouch",
           "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", m + "=ALL-UNNAMED"]
    cmd += ["-Duser.timezone=UTC",
            "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
            "-Dderby.system.home=" + run_dir,
            "-Dderby.stream.error.file=" + os.path.join(run_dir, "derby.log"),
            "-Dlog4j2.configurationFile=" + os.path.join(here, "log4j2.properties"),
            "-cp", classpath, "connbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--scale", str(a.scale),
            "--wrong-checksum", str(a.wrong_checksum), "--cpus", str(cpus()),
            "--run-dir", run_dir, "--out", out_file,
            "--trace-dir", os.path.join(build_dir, "trace")]
    if a.check:
        cmd += ["--check", a.check]
    try:
        env = dict(os.environ)
        env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
        # few malloc arenas: DuckDB's native allocations reuse memory
        # instead of growing one arena per thread, which keeps peak RSS
        # comparable
        env["MALLOC_ARENA_MAX"] = "2"
        code = run_child(cmd, cwd=root, env=env, timeout=JVM_TIMEOUT_S, capture=False)
        lines = []
        if os.path.exists(out_file):
            with open(out_file) as fh:
                lines = [line.rstrip("\n") for line in fh if line.strip()]
    finally:
        stop_child()
        shutil.rmtree(run_dir, ignore_errors=True)
    if code is None:
        return 4
    if a.check:
        return code
    if len(lines) < 2:
        log("the benchmark JVM wrote no result (exit %s)" % code)
        return code or 5
    for line in lines:
        print(line)
    sys.stdout.flush()
    return code


def _on_signal(signum, _frame):
    stop_child()
    sys.exit(128 + signum)


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, _on_signal)
    signal.signal(signal.SIGINT, _on_signal)
    sys.exit(main())
