#!/usr/bin/env python3
"""Run one workload of the release-cycle benchmark.

    python3 gfebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 gfebench/run.py ... --smoke      # tiny sizes (self-test)

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (the engine is the repository's own build,
see gfebench/build.sbt) and caches the classpath under .bench_build/; a
later run rebuilds only when a source or build file changed. The JVM
prints every metric by name with its unit on lines starting with '#',
then the result object as the last line of standard output. Exit code
is non-zero, with no result printed, on any wrong answer or error.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "gfebench")
WORKLOADS = ["release_cold", "release_fold", "serve_anchored", "analytics_fixpoint"]
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these (the same list the
# engine's own build passes to its forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"gfebench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads: the engine's build and main sources,
    and the harness's own build and sources."""
    files = [os.path.join(ROOT, "build.sbt")]
    for base in ("project",):
        p = os.path.join(ROOT, base)
        if os.path.isdir(p):
            files += [os.path.join(p, f) for f in sorted(os.listdir(p))
                      if f.endswith((".sbt", ".properties", ".scala"))]
    for base in (os.path.join(ROOT, "src", "main"),
                 os.path.join(HERE, "src"), os.path.join(HERE, "project")):
        for d, dirs, fs in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, f) for f in sorted(fs)]
    files.append(os.path.join(HERE, "build.sbt"))
    return [f for f in files if os.path.isfile(f)]


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout
    and always wait for it to end."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail(f"timed out after {timeout} s: {cmd[0]}")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise
    return p.returncode, out, err


def build(stamp):
    """sbt build of engine + harness; returns the runtime classpath."""
    cp_file = os.path.join(OUT, "classpath.txt")
    stamp_file = os.path.join(OUT, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    print("gfebench: building engine and harness (sbt)", file=sys.stderr)
    code, out, err = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "export gfebench/Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (sbt exit {code})")
    cp = lines[-1].strip()
    os.makedirs(OUT, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")) or shutil.which("git") is None:
        return "none"
    r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                       capture_output=True, text=True)
    return r.stdout.strip() if r.returncode == 0 else "none"


def driver_heap():
    """A quarter of physical memory, between 2 and 4 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal"))
        gib = max(2, min(4, kb // (4 * 1024 * 1024)))
    except (OSError, StopIteration, ValueError):
        gib = 2
    return f"{gib}g"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", default="0", choices=["0", "1"])
    ap.add_argument("--smoke", action="store_true",
                    help="tiny sizes, for the self-test")
    ap.add_argument("--corrupt-expectation", action="store_true",
                    help="self-test: shift one predicted answer, so the run must fail")
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no engine sources next to the benchmark (build.sbt, src/main/scala)")
    stamp = source_hash()
    cp = build(stamp)

    work = os.path.join(OUT, "work")
    results = os.path.join(OUT, "results")
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java, f"-Xmx{driver_heap()}", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false",
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "gfebench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", work, "--results", results,
            "--source", f"git:{git_commit()} src:{stamp}"]
    if a.smoke:
        cmd.append("--smoke")
    if a.corrupt_expectation:
        cmd.append("--corrupt-expectation")
    # engine tuning knobs from the environment would make runs
    # incomparable: the benchmark always runs the engine's defaults
    env = {k: v for k, v in os.environ.items() if not k.startswith(("GRAFT_", "SPARK_GRAFT_"))}
    code, _, _ = run_bounded(cmd, RUN_TIMEOUT_S, cwd=ROOT, env=env)
    tag = f"{a.workload}-smoke" if a.smoke else a.workload
    shutil.rmtree(os.path.join(work, f"{tag}-{a.seed}-{a.trace}"), ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
