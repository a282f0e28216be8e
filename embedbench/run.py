#!/usr/bin/env python3
"""Build and run the embedding benchmark.

Usage (from the repository root):

    python3 embedbench/run.py --workload <opinions_long|snippets_short|search> \
        --seed <n> --seconds <n> --trace <0|1>

The first run in a checkout compiles the engine's sources together with the
benchmark (an sbt build of its own in this directory); later runs reuse the
build while no source file changed. The run itself is one JVM; its last line
of standard output is the JSON result.
"""

import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
WORK = os.path.join(BENCH, ".work")
STAMP = os.path.join(BENCH, "target", "embedbench-build.json")

BUILD_TIMEOUT_S = 800
RUN_TIMEOUT_S = 175
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
    print(f"[embedbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Digest of every input to the build: engine and benchmark sources."""
    h = hashlib.sha256()
    tops = [ENGINE_SRC, os.path.join(BENCH, "src", "main")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for top in tops:
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names
                      if n.endswith((".scala", ".java"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_killable(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build():
    """Compile if any source changed; return the runtime classpath."""
    digest = source_digest()
    if os.path.exists(STAMP):
        with open(STAMP) as fh:
            stamp = json.load(fh)
        if stamp.get("digest") == digest:
            return stamp["classpath"]
    sbt = shutil.which("sbt")
    if sbt is None:
        raise SystemExit("sbt not found on PATH")
    log("building engine + benchmark (first run in this checkout)")
    cmd = [sbt, "-batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.server.autostart=false",
           "compile", "export Runtime/fullClasspath"]
    try:
        code, out = run_killable(cmd, BUILD_TIMEOUT_S, cwd=BENCH,
                                 stdin=subprocess.DEVNULL,
                                 stdout=subprocess.PIPE, text=True)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"build timed out after {BUILD_TIMEOUT_S}s")
    if code != 0:
        sys.stderr.write(out)
        raise SystemExit(f"build failed (sbt exit {code})")
    cp = [ln.strip() for ln in out.splitlines()
          if "target/scala-2.13/classes" in ln and not ln.startswith("[")]
    if not cp:
        sys.stderr.write(out)
        raise SystemExit("build printed no classpath")
    os.makedirs(os.path.dirname(STAMP), exist_ok=True)
    with open(STAMP, "w") as fh:
        json.dump({"digest": digest, "classpath": cp[-1]}, fh)
    return cp[-1]


def main():
    if not os.path.isdir(ENGINE_SRC):
        log(f"engine sources not found at {os.path.relpath(ENGINE_SRC)}; "
            "run from a full checkout of the repository")
        return 2
    classpath = build()
    java = os.path.join(os.environ.get("JAVA_HOME", ""), "bin", "java")
    if not os.path.exists(java):
        java = shutil.which("java") or "java"
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # a fixed heap keeps peak RSS from tracking when the heap grows
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            "-Dlog4j2.configurationFile=" + os.path.join(BENCH, "log4j2.properties"),
            "-cp", classpath, "embedbench.Main"] + sys.argv[1:] + ["--work", WORK]
    try:
        code, _ = run_killable(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdin=subprocess.DEVNULL)
    except subprocess.TimeoutExpired:
        log(f"run timed out after {RUN_TIMEOUT_S}s")
        return 3
    return code


if __name__ == "__main__":
    sys.exit(main())
