#!/usr/bin/env python3
"""Run one measurement of the graft benchmark.

Usage, from the root of a checkout:

    python3 benchmark/run.py --workload <etl_load|corpus_ops> \
        --seed <n> --seconds <s> --trace <0|1>

The library and the benchmark are built from the checkout's sources with
sbt whenever those sources changed since the last build; build state and
run scratch live under `.bench_build/` at the checkout root. The run
itself is one JVM (`graft.benchmark.Main`) on local[<cores>]. Its last
line on standard output is the JSON summary; everything else, including
per-layer details, goes to standard error.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

WORKLOADS = ("etl_load", "corpus_ops")
BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 170
# A fixed heap: resizing it mid-run would move GC times between runs.
HEAP = ["-Xms3g", "-Xmx3g"]

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")


def fail(msg, code=2):
    print(f"benchmark: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [
        os.path.join(ROOT, "build.sbt"),
        os.path.join(ROOT, "project", "build.properties"),
        os.path.join(ROOT, "src", "main"),
        os.path.join(HERE, "build.sbt"),
        os.path.join(HERE, "project", "build.properties"),
        os.path.join(HERE, "src", "main"),
    ]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        return None, None
    finally:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def build():
    """Compiles with sbt when the sources changed; returns JVM arguments."""
    launch = os.path.join(OUT, "launch.txt")
    stamp_file = os.path.join(OUT, "stamp")
    stamp = source_stamp()
    if os.path.exists(launch) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            fresh = f.read() == stamp
        with open(launch) as f:
            args = f.read().splitlines()
        # A build output deleted since the last build forces a rebuild.
        cp = args[args.index("-cp") + 1].split(os.pathsep) if "-cp" in args else []
        if fresh and cp and all(os.path.exists(p) for p in cp):
            return args
    env = dict(os.environ)
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos}")
    env.setdefault("COURSIER_MODE", "offline")
    log_path = os.path.join(OUT, "build.log")
    with open(log_path, "w") as log:
        rc, _ = run_group(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", f"bench/writeLaunch {launch}"],
            BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL)
    if rc != 0 or not os.path.exists(launch):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"build failed (rc={rc}); log in {log_path}", 1)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(launch) as f:
        return f.read().splitlines()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")
    for needed in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, needed)):
            fail(f"{needed} not found under {ROOT}: run from a checkout of the repository")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    os.makedirs(OUT, exist_ok=True)
    jvm_args = build()

    work = os.path.join(OUT, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ)
    # Spark's shuffle and spill scratch, and every JVM temp file, stay
    # inside the checkout.
    env["SPARK_LOCAL_DIRS"] = env["GRAFT_LOCAL_DIR"] = os.path.join(work, "spark-local")
    cmd = ["java"] + HEAP + [f"-Djava.io.tmpdir={tmp}",
           f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}"] + jvm_args + [
        "graft.benchmark.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--data", os.path.join(HERE, "data", "sf0.01"), "--work", work]
    rc, out = run_group(cmd, RUN_TIMEOUT_S, cwd=work, env=env, stdout=subprocess.PIPE,
                        stdin=subprocess.DEVNULL, text=True)
    if rc is None:
        fail(f"run exceeded {RUN_TIMEOUT_S}s and was stopped", 1)
    lines = [l for l in out.splitlines() if l.strip()]
    if rc != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(out[-4000:])
        fail(f"run failed (rc={rc}) without a summary", 1)
    sys.stderr.write("".join(l + "\n" for l in lines[:-1]))
    print(lines[-1], flush=True)


if __name__ == "__main__":
    main()
