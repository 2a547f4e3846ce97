#!/usr/bin/env python3
"""Build and run the streaming benchmark.

Usage, from the root of the repository:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the benchmark (perfbench/src on top of the library's own build) with sbt
when the sources changed since the last build, then runs one workload in
its own JVM. The JVM prints one environment line and, last, one JSON
result line on stdout; build output and diagnostics go to stderr.
Build products, traces and scratch files go under .bench_build/.
"""

import hashlib
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSPATH = os.path.join(STATE, "classpath.txt")
STAMP = os.path.join(STATE, "sources.sha1")
RUN_TIMEOUT_S = 170
JVM_OPTIONS = os.path.join(HERE, "jvm.options")


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of the path, size and mtime of every build input."""
    h = hashlib.sha1()
    inputs = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
              os.path.join(ROOT, "project", "build.properties"), os.path.join(HERE, "src", "main"),
              os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in inputs:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{os.path.relpath(p, ROOT)}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    stamp = source_stamp()
    if os.path.isfile(CLASSPATH) and os.path.isfile(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == stamp:
                return
    os.makedirs(STATE, exist_ok=True)
    env = dict(os.environ)
    # No network: resolve only from the local caches.
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
           "compile", "export Runtime/fullClasspath"]
    print("perfbench: building with sbt", file=sys.stderr)
    p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL, text=True, timeout=840)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        fail(f"sbt build failed with exit code {p.returncode}", 3)
    classes = os.path.join(HERE, "target")
    found = [ln.strip() for ln in p.stdout.splitlines() if ln.startswith(classes)]
    if not found:
        sys.stderr.write(p.stdout[-4000:])
        fail("sbt did not print the runtime classpath", 3)
    cp = found[-1]
    with open(CLASSPATH, "w") as f:
        f.write(cp)
    with open(STAMP, "w") as f:
        f.write(stamp)


def jvm_options():
    """The options in jvm.options, which the test JVM shares."""
    with open(JVM_OPTIONS) as f:
        return [ln.strip() for ln in f if ln.strip() and not ln.strip().startswith("#")]


def main(argv):
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft", "streaming"))):
        fail(f"the library sources are not in {ROOT}; run from a full checkout of the repository")
    build()
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    cmd = ["java"] + jvm_options() + ["-cp", cp, "perfbench.Main"] + argv
    proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s and was killed", 4)
    except KeyboardInterrupt:
        proc.kill()
        proc.wait()
        raise
    sys.exit(code)


if __name__ == "__main__":
    main(sys.argv[1:])
