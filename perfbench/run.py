#!/usr/bin/env python3
"""Runs one perfbench workload from the root of a checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first run builds the library and the benchmark from the checkout's
sources with sbt (offline) into .bench_build/, then every run starts one
JVM for the workload. The last line of stdout is the result as JSON:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
With --trace 1 the metrics are the per-layer ones and the span file and a
summary with the tracing overhead go to .bench_build/trace/.

Exits non-zero without a result when the build or the run fails.
"""
import argparse
import hashlib
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
# Packages Spark reaches into; build.sbt reads the same file for the tests.
ADD_OPENS_FILE = os.path.join(HERE, "add-opens.txt")
RUN_TIMEOUT_S = 170


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def sources_digest():
    """Fingerprint of every input of the build, so a changed checkout rebuilds."""
    h = hashlib.sha256()
    for top in ["src/main", "project", "build.sbt", "perfbench/src/main", "perfbench/build.sbt",
                "perfbench/project/build.properties", "perfbench/add-opens.txt"]:
        path = os.path.join(ROOT, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs
            if "target" not in os.path.relpath(d, ROOT).split(os.sep))
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Runs cmd in its own process group and kills the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None, None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build():
    """Compiles with sbt when the sources changed; returns the runtime classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "sources.sha256")
    digest = sources_digest()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == digest:
                with open(cp_file) as f2:
                    return f2.read().strip()
    sbt = shutil.which("sbt")
    if sbt is None:
        log("sbt is not on PATH")
        sys.exit(2)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true",
            f"-Djava.io.tmpdir={tmp}", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    log("building (first run in this checkout)")
    t = time.time()
    rc, out = run_bounded([sbt, "--batch", "export perfbench/Runtime/fullClasspath"], 700,
                          cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True)
    if rc != 0:
        sys.stderr.write(out or "")
        log(f"build failed (exit {rc})")
        sys.exit(2)
    classpath = out.strip().splitlines()[-1].strip()
    if "perfbench" not in classpath or ":" not in classpath:
        sys.stderr.write(out)
        log("build printed no classpath")
        sys.exit(2)
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(classpath + "\n")
    with open(stamp_file, "w") as f:
        f.write(digest + "\n")
    log(f"built in {time.time() - t:.0f} s")
    return classpath


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    # perfbench.Main checks the workload name
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not re.fullmatch(r"[a-z0-9_]+", args.workload):
        log(f"bad workload name {args.workload!r}")
        sys.exit(2)

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log("the library sources (src/main/scala/graft) are not in this checkout")
        sys.exit(2)
    classpath = build()

    work = os.path.join(BUILD, "work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(work, "result.json")
    with open(ADD_OPENS_FILE) as f:
        add_opens = f.read().split()
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false"] +
           [x for p in add_opens for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--out", out, "--base", BUILD, "--work", work])
    try:
        rc, _ = run_bounded(cmd, RUN_TIMEOUT_S, cwd=work)
        if rc != 0 or not os.path.exists(out):
            log("the workload run timed out" if rc is None else f"the workload run failed (exit {rc})")
            sys.exit(3)
        with open(out) as f:
            result = f.read().strip()
        if args.trace == 0:
            results = os.path.join(BUILD, "results")
            os.makedirs(results, exist_ok=True)
            with open(os.path.join(results, f"{args.workload}.json"), "w") as f:
                f.write(result + "\n")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.stdout.flush()
    print(result, flush=True)


if __name__ == "__main__":
    main()
