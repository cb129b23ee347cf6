#!/usr/bin/env python3
"""Run one workload of the IAM access-graph benchmark.

    python3 iambench/run.py --workload iam_lookup|iam_reach --seed N \
        --seconds S --trace 0|1

Run it from the root of a checkout of the repository. The first run builds
the program and the benchmark from source with sbt (under iambench/ and
.bench_build/); later runs reuse the build while the sources are unchanged.
Each run then starts a fresh JVM under a fresh working directory in
.bench_build/runs/, which it removes when the run ends. The last line of
standard output is the run's result as one JSON object.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

BENCH = "iambench"
BUILD = ".bench_build"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
HEAP = "2g"

# Module access Spark needs on JDK 17 outside spark-submit; the same list
# as the program's build.sbt.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"iambench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources(root):
    """Every file the build reads, in a stable order."""
    picked = []
    for top in ("build.sbt", "project", "src/main", os.path.join(BENCH, "build.sbt"),
                os.path.join(BENCH, "project"), os.path.join(BENCH, "src/main")):
        path = os.path.join(root, top)
        if os.path.isfile(path):
            picked.append(path)
        for d, dirs, files in os.walk(path):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            picked.extend(os.path.join(d, f) for f in sorted(files))
    return picked


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def run_limited(cmd, cwd, env, timeout, stdout, stderr):
    """Run cmd in its own process group; kill the group on timeout, or if
    this script is stopped, and wait for it either way."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=stderr,
                            start_new_session=True)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        return None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def build(root):
    """Compile the program and the benchmark; return the runtime classpath."""
    out = os.path.join(root, BUILD)
    os.makedirs(out, exist_ok=True)
    stamp = digest(sources(root))
    stamp_file = os.path.join(out, "build.stamp")
    cp_file = os.path.join(root, BENCH, "target", "runtime-classpath.txt")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as c:
                    return c.read().strip()
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log_path = os.path.join(out, "build.log")
    with open(log_path, "w") as log:
        code = run_limited(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                           os.path.join(root, BENCH), env, BUILD_TIMEOUT_S, log, subprocess.STDOUT)
    if code != 0 or not os.path.exists(cp_file):
        with open(log_path) as log:
            sys.stderr.write("".join(log.readlines()[-40:]))
        die("build failed" if code is not None else "build timed out", 3)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as c:
        return c.read().strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    args = ap.parse_args()
    # Stopped from outside: unwind, so the JVM is killed and the run's
    # directory removed.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    for need in ("build.sbt", "src/main/scala/graft", os.path.join(BENCH, "build.sbt")):
        if not os.path.exists(os.path.join(root, need)):
            die(f"{need} not found: run from the root of a checkout of the repository")

    classpath = build(root)
    started = time.monotonic()

    runs = os.path.join(root, BUILD, "runs")
    os.makedirs(runs, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=runs)
    try:
        jtmp = os.path.join(work, "tmp")
        os.makedirs(jtmp)
        cmd = ["java"]
        for m in ADD_OPENS:
            cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
        cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={jtmp}", "-Dspark.ui.enabled=false",
                "-Dspark.sql.session.timeZone=UTC", "-cp", classpath, "iambench.Main",
                "--workload", args.workload, "--seed", str(args.seed),
                "--seconds", str(args.seconds), "--trace", args.trace, "--dir", work]
        out_path = os.path.join(work, "stdout.txt")
        err_path = os.path.join(work, "stderr.txt")
        with open(out_path, "w") as out, open(err_path, "w") as err:
            budget = max(10, RUN_TIMEOUT_S - (time.monotonic() - started))
            # Spark honours SPARK_LOCAL_DIRS over its conf: keep its
            # scratch space inside this run's directory too.
            env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
            code = run_limited(cmd, root, env, budget, out, err)
        with open(out_path) as f:
            lines = f.read().splitlines()
        if code != 0 or not lines or not lines[-1].startswith("{"):
            with open(err_path) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            die("run timed out" if code is None else f"run failed (exit {code})", 4)
        with open(err_path) as f:
            notes = [l for l in f if l.startswith(("failed:", "  ", "host:", "ops:"))]
        sys.stderr.write("".join(notes[:40]))
        print("\n".join(lines))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
