#!/usr/bin/env python3
"""Run one benchmark workload against the graft engine in this checkout.

    python3 raptorbench/run.py --workload tile --seed 1 --seconds 12 --trace 0

The first run compiles the engine's sources (../src/main/scala) with the
harness under raptorbench/src through sbt, offline; later runs reuse the
classes while no source has changed. The harness runs in one JVM with a
fixed core count and heap. Everything it writes stays under raptorbench/.
The last stdout line is one JSON object:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
The exit code is 0 only when every operation ran and checked out.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = os.path.join(ROOT, "src", "main", "scala")
OUT = os.path.join(HERE, "out")
TARGET = os.path.join(HERE, "target")
STAMP = os.path.join(TARGET, "raptorbench-build.json")
WORKLOADS = ("tile", "build")
BUILD_TIMEOUT_S = 800
RUN_TIMEOUT_S = 170
HEAP = "3g"
OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[raptorbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (ENGINE, os.path.join(HERE, "src", "main")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    return proc.returncode, out


def build():
    """Compile engine + harness unless the stamp matches; return the classpath."""
    want = digest()
    if os.path.exists(STAMP):
        with open(STAMP) as fh:
            stamp = json.load(fh)
        if stamp.get("digest") == want:
            return stamp["classpath"]
    log("building engine and harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"])
    rc, _ = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                       "compile", "writeClasspath"],
                      BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=sys.stderr)
    if rc != 0:
        raise RuntimeError(f"sbt build failed with exit code {rc}")
    with open(os.path.join(TARGET, "classpath.txt")) as fh:
        classpath = fh.read().strip()
    with open(STAMP, "w") as fh:
        json.dump({"digest": want, "classpath": classpath}, fh)
    return classpath


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ENGINE, "graft")):
        log(f"engine sources not found under {ENGINE}")
        return 2
    try:
        classpath = build()
    except (RuntimeError, OSError, subprocess.TimeoutExpired) as e:
        log(f"build failed: {e}")
        return 2
    os.makedirs(os.path.join(OUT, "tmp"), exist_ok=True)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(OUT, 'tmp')}",
            "-Dspark.ui.enabled=false"]
           + [a for p in OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "raptorbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", args.trace,
              "--out", OUT])
    try:
        rc, out = run_group(cmd, RUN_TIMEOUT_S, cwd=HERE,
                            stdout=subprocess.PIPE, text=True)
    except subprocess.TimeoutExpired:
        log(f"run exceeded {RUN_TIMEOUT_S} s and was stopped")
        return 3
    result = None
    for line in out.splitlines():
        if line.startswith("RESULT "):
            result = line[len("RESULT "):]
        else:
            print(line, file=sys.stderr)
    if result is None:
        log(f"no result (exit code {rc})")
        return rc or 1
    print(result, flush=True)
    return rc


if __name__ == "__main__":
    sys.exit(main())
