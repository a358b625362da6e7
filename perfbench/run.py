#!/usr/bin/env python3
"""Build the engine plus the benchmark, then run one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run in a checkout compiles the
engine and the benchmark with sbt (offline) into `.bench_build/`; later
runs reuse that build while the sources are unchanged. The benchmark
itself is one JVM (`perfbench.Main`) whose last stdout line is the
result JSON; this script passes its output through unchanged and keeps
a copy of the result under `.bench_build/results/`.
"""

import argparse
import hashlib
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
HEAP = "2g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads, in a stable order."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in (os.path.join(ROOT, "project"), os.path.join(HERE, "project"),
                os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, dirs, names in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))
                      or "resources" in d]
    return files


def source_stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(stamp):
    """Compile with sbt unless this exact source tree is already built.
    Returns the runtime classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    if not env.get("SBT_OPTS"):
        env["SBT_OPTS"] = " ".join([
            "-Dsbt.override.build.repos=true",
            "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
            "-Dsbt.offline=true", "-Xmx2g"])
    log("building engine and benchmark with sbt (first run in this checkout)")
    t0 = time.time()
    out = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                       "export perfbench/Runtime/fullClasspath"],
                      cwd=HERE, env=env, timeout=BUILD_TIMEOUT_S)
    with open(os.path.join(BUILD, "build.log"), "w") as fh:
        fh.write(out[1])
    if out[0] != 0:
        sys.stderr.write(out[1][-4000:])
        log(f"build failed (exit {out[0]})")
        sys.exit(3)
    cp = [ln for ln in out[1].splitlines()
          if not ln.startswith("[") and ("perfbench" in ln and os.pathsep in ln)]
    if not cp:
        log("build printed no classpath")
        sys.exit(3)
    with open(cp_file, "w") as fh:
        fh.write(cp[-1].strip())
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log(f"build done in {time.time() - t0:.0f}s")
    return cp[-1].strip()


def run_bounded(cmd, cwd, env, timeout, echo=False):
    """Run `cmd` in its own process group; kill the group on timeout.
    Returns (exit code, captured stdout)."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                         stderr=None if echo else subprocess.STDOUT,
                         text=True, start_new_session=True)

    def stop(signum, _frame):
        kill_group(p)
        sys.exit(128 + signum)
    signal.signal(signal.SIGTERM, stop)
    lines = []
    deadline = time.time() + timeout
    try:
        for line in p.stdout:
            lines.append(line)
            if echo:
                sys.stdout.write(line)
                sys.stdout.flush()
            if time.time() > deadline:
                raise subprocess.TimeoutExpired(cmd, timeout)
        p.wait(timeout=max(1, deadline - time.time()))
    except (subprocess.TimeoutExpired, KeyboardInterrupt):
        log(f"timed out after {timeout}s; stopping {cmd[0]}")
        kill_group(p)
        return 124, "".join(lines)
    finally:
        kill_group(p)
    return p.returncode, "".join(lines)


def kill_group(p):
    """Kill `p` and everything it started, then reap it."""
    if p.poll() is None:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    p.wait()


def commit_id(stamp):
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0 and r.stdout.strip():
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "sources-sha256:" + stamp[:16]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        log(f"no engine sources under {ROOT} (build.sbt, src/main/scala); run from the repository root")
        sys.exit(2)
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    stamp = source_stamp()
    cp = build(stamp)
    cmd = ["java", *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={os.path.join(BUILD, 'tmp')}",
           f"-Dperfbench.commit={commit_id(stamp)}",
           "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", a.trace, "--work", BUILD]
    code, out = run_bounded(cmd, cwd=ROOT, env=dict(os.environ), timeout=RUN_TIMEOUT_S, echo=True)
    last = out.strip().splitlines()[-1] if out.strip() else ""
    if last.startswith("{") and code in (0, 1):
        path = os.path.join(BUILD, "results", f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
        with open(path, "w") as fh:
            fh.write(last + "\n")
    sys.exit(code)


if __name__ == "__main__":
    main()
