#!/usr/bin/env python3
"""Run one graftbench workload: build graft and the driver from source if
needed, run the driver JVM, and relay its report and result line.

Usage (from the root of a checkout):
    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Everything the run builds or writes stays under `.bench_build/` in the
checkout. The last line of stdout is the JSON result.
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
BUILD = os.path.join(ROOT, ".bench_build")
SOURCES = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
           os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
# a checkout's first run (build + run) must end within 900 s
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
# A fixed-size heap under the throughput collector: G1's heap resizing and
# concurrent cycles made per-call latencies of the same run vary about
# twice as much between runs.
JVM_HEAP = ["-Xms3g", "-Xmx3g", "-XX:+UseParallelGC"]
JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    h = hashlib.sha256()
    for top in SOURCES:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout
    or when this script is interrupted, and wait for it to end."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None, None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out


def spark_jars():
    """The jars of the Spark installation: $SPARK_HOME, else the one whose
    spark-submit is on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("Spark not found: set SPARK_HOME or put spark-submit on PATH")
    return os.path.join(home, "jars")


def build(src_hash):
    """Compile graft + driver with sbt (offline) and record the classpath."""
    stamp = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    if os.path.exists(cp_file) and os.path.exists(stamp) and open(stamp).read() == src_hash:
        return open(cp_file).read().strip()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", f"-Djava.io.tmpdir={tmp}", "-Xmx2g",
            f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}",
            f"-Dgraftbench.spark.jars={spark_jars()}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        code, out = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                               "export Runtime/fullClasspath"],
                              BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=subprocess.PIPE,
                              stderr=log, stdin=subprocess.DEVNULL, text=True)
        if out:
            log.write(out)
    if code != 0:
        fail(f"build failed (exit {code}); see {log_path}")
    cp = [l for l in out.splitlines() if "scala-2.13/classes" in l and not l.startswith("[")]
    if not cp:
        fail(f"build printed no classpath; see {log_path}")
    with open(cp_file, "w") as f:
        f.write(cp[-1].strip())
    with open(stamp, "w") as f:
        f.write(src_hash)
    # flush the build's output now rather than while the first run measures
    os.sync()
    return cp[-1].strip()


def git_commit():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def overhead(untraced, traced):
    """Per end-to-end metric: traced value relative to the untraced run."""
    return {k: (traced[k] / untraced[k] - 1.0) if untraced.get(k) else None
            for k in traced if k in untraced}


def main():
    # SIGTERM unwinds like Ctrl-C, so the driver JVM is killed with us
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"graft sources not found under {ROOT}/src/main/scala/graft")

    os.makedirs(BUILD, exist_ok=True)
    src_hash = source_hash()
    cp = build(src_hash)

    mode = "traced" if a.trace == "1" else "untraced"
    tag = f"{a.workload}-seed{a.seed}"
    work = os.path.join(BUILD, "work", f"{tag}-{os.getpid()}")
    for d in ("traces", "results", "logs"):
        os.makedirs(os.path.join(BUILD, d), exist_ok=True)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    trace_out = os.path.join(BUILD, "traces", f"{tag}.jsonl")
    cpus = len(os.sched_getaffinity(0))
    cmd = ["java"] + [x for p in JVM_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
        *JVM_HEAP, f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-cp", cp, "graftbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--cpus", str(cpus), "--work", work, "--trace-out", trace_out,
        "--commit", git_commit(), "--source", src_hash]
    log_path = os.path.join(BUILD, "logs", f"{tag}-{mode}.log")
    try:
        with open(log_path, "w") as log:
            code, out = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdout=subprocess.PIPE,
                                  stderr=log, stdin=subprocess.DEVNULL, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code is None:
        fail(f"run exceeded {RUN_TIMEOUT_S} s; see {log_path}")
    lines = out.splitlines()
    if code != 0 or not lines:
        fail(f"driver exited {code}; see {log_path}")
    result = json.loads(lines[-1])
    e2e = next((json.loads(l[4:]) for l in lines if l.startswith("e2e ")), None)
    for l in lines[:-1]:
        print(l)

    if e2e is not None:
        stored = os.path.join(BUILD, "results", f"{tag}.json")
        if mode == "untraced":
            with open(stored, "w") as f:
                json.dump(e2e, f)
        elif os.path.exists(stored):
            ov = overhead(json.load(open(stored)), e2e)
            print("tracing overhead vs the untraced run of this seed: " + ", ".join(
                f"{k} {v:+.1%}" for k, v in ov.items() if v is not None))
            with open(trace_out, "a") as f:
                f.write(json.dumps({"type": "overhead", "vs_untraced": ov}) + "\n")
        else:
            print("tracing overhead: no untraced run of this workload and seed to compare with")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
