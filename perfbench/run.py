#!/usr/bin/env python3
"""Build the engine and the benchmark from source, then run one measurement.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run compiles the engine and the
benchmark (an sbt build of its own in this directory that depends on the
root build) and caches the runtime classpath under `.bench_build/`, keyed
by a digest of every source and build file of both builds. A later run
whose sources digest the same starts the JVM directly; any other run
compiles first (incrementally), so the classes always match the checked-out
sources. Everything the run writes stays under `.bench_build/`, apart from
sbt's own `target/` directories. The last line of stdout is the result JSON; the exit code is
0 only when that line was produced.
"""
import hashlib
import json
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170

# JDK 17 module opens Spark needs outside spark-submit (the engine's own
# build passes the same list to its forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def source_files(path):
    """Regular files under `path`, sorted; sbt's `target/` and the nested
    `project/project/` build output are skipped."""
    if os.path.isfile(path):
        return [path]
    out = []
    for d, subdirs, files in os.walk(path):
        subdirs[:] = sorted(s for s in subdirs if s != "target"
                            and not (s == "project" and os.path.basename(d) == "project"))
        out += [os.path.join(d, f) for f in sorted(files)]
    return out


def source_digest():
    """Digest of the engine's and the benchmark's sources and build files."""
    h = hashlib.sha256()
    for top in ("build.sbt", "project", "src", "perfbench/build.sbt",
                "perfbench/project", "perfbench/src"):
        for f in source_files(os.path.join(ROOT, top)):
            h.update(os.path.relpath(f, ROOT).encode() + b"\0")
            with open(f, "rb") as fh:
                h.update(fh.read() + b"\0")
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build(digest):
    """Compile engine + benchmark; cache the runtime classpath under the
    sources' digest."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            sys.exit(f"perfbench: engine source '{need}' not found under {ROOT}")
    os.makedirs(BUILD, exist_ok=True)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=BENCH, env=sbt_env(), stdout=subprocess.PIPE, stderr=sys.stderr,
        text=True, timeout=BUILD_TIMEOUT_S)
    lines = [l for l in proc.stdout.splitlines() if "perfbench" in l and ":" in l
             and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        sys.exit(f"perfbench: build failed (sbt exit {proc.returncode})")
    tmp = CLASSPATH + ".tmp"
    with open(tmp, "w") as f:
        f.write(digest + "\n" + lines[-1].strip())
    os.replace(tmp, CLASSPATH)


def cached_classpath(digest):
    """The cached classpath when it was built from sources with `digest`."""
    if not os.path.isfile(CLASSPATH):
        return None
    with open(CLASSPATH) as f:
        cached, _, cp = f.read().strip().partition("\n")
    if cached != digest or not all(os.path.exists(p) for p in cp.split(":")[:2]):
        return None
    return cp


def classpath():
    digest = source_digest()
    cp = cached_classpath(digest)
    if cp is None:
        build(digest)
        cp = cached_classpath(digest)
    if cp is None:
        sys.exit("perfbench: the build left no usable classpath")
    return cp


def main(argv):
    cp = classpath()
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", "-Xmx3g",
            "-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main"] + argv
           + ["--work", os.path.join(BUILD, "work")])
    try:
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                              stderr=sys.stderr, text=True, timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        sys.exit(f"perfbench: run exceeded {RUN_TIMEOUT_S} s")
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.exit(f"perfbench: benchmark exited {proc.returncode} without a result")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.exit("perfbench: malformed result line")
    print(lines[-1])


if __name__ == "__main__":
    main(sys.argv[1:])
