#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload pip_tile --seed 1 --seconds 20 --trace 0

Builds the engine together with the benchmark (perfbench/build.sbt) when
any source changed since the last build, then runs the workload in one
local[4] JVM. The last line of standard output is one JSON object with
the keys correct, attempted, failed and metrics. Everything the run
writes stays under .perfbench/ and perfbench/target/ in the checkout.
"""
import argparse
import hashlib
import os
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
# class-data archive of the classpath: written by the first run after a
# build, mapped by every later one (cuts JVM and Spark start-up by half)
CDS_ARCHIVE = os.path.join(STATE, "classes.jsa")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Digest of every file the build reads."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src", "main"), os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names if not n.startswith(".")]
    for f in sorted(p for p in files if os.path.isfile(p) and "/target/" not in p):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} exceeded {timeout} s", 124)
    return p.returncode, out


def classpath():
    """Build if needed; return the runtime classpath."""
    stamp_file = os.path.join(STATE, "build.stamp")
    cp_file = os.path.join(STATE, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    sbt = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true"]
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if os.path.exists(repos):
        sbt += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline")
    code, out = run_bounded(sbt + ["compile", "export Runtime/fullClasspath"], BUILD_TIMEOUT_S,
                            cwd=HERE, env=env, stdout=subprocess.PIPE, text=True)
    if code != 0:
        sys.stderr.write(out[-4000:])
        fail(f"build failed (sbt exit {code})", 3)
    if os.path.exists(CDS_ARCHIVE):
        os.remove(CDS_ARCHIVE)
    lines = [l.strip() for l in out.splitlines() if l.strip() and not l.startswith("[")]
    if not lines:
        fail("build printed no classpath", 3)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    a = ap.parse_args()
    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources not found under {os.path.relpath(ENGINE_SRC, ROOT)}", 2)
    os.makedirs(os.path.join(STATE, "tmp"), exist_ok=True)
    cp = classpath()
    java = ["java", "-Xmx3g", "-XX:ActiveProcessorCount=4",
            f"-Djava.io.tmpdir={os.path.join(STATE, 'tmp')}", "-Dspark.ui.enabled=false",
            # JVM warnings go to stderr: stdout must end with the result line
            "-Xlog:disable", "-Xlog:all=warning:stderr"]
    if os.path.exists(CDS_ARCHIVE):
        java.append(f"-XX:SharedArchiveFile={CDS_ARCHIVE}")
    else:
        java.append(f"-XX:ArchiveClassesAtExit={CDS_ARCHIVE}")
    for o in ADD_OPENS:
        java += ["--add-opens", f"{o}=ALL-UNNAMED"]
    java += ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
             "--seconds", str(a.seconds), "--trace", a.trace,
             "--work", os.path.join(STATE, "work")]
    code, out = run_bounded(java, RUN_TIMEOUT_S, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    sys.stdout.write(out)
    sys.stdout.flush()
    sys.exit(code)


if __name__ == "__main__":
    main()
