#!/usr/bin/env python3
"""Run one graft benchmark workload.

From the repository root:

    python3 perfbench/run.py --workload sparql_read --seed 1 --seconds 10 --trace 0

The first call builds graft and the benchmark from source with sbt
(output under .bench_build/ and the sbt target dirs); later calls reuse
the build while the sources are unchanged. Each call runs the workload in
a fresh JVM and prints one `workload metric value unit` line per metric,
then one JSON result line. Per-key samples and traced spans go to
perfbench/out/. A run measures a fixed number of passes, so `--seconds`
is accepted and not used.

A traced run (`--trace 1`) takes its tracing overhead against untraced
runs of the same workload and build, from their artifacts in
perfbench/out/: the same seed's run if there is one (its passes ran the
same orders), else every other seed's. With none, it makes the untraced
run of its seed first, in a JVM of its own.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("sparql_read", "graph_er")
RUN_LIMIT_S = 175     # a run must end within 180 s
BUILD_LIMIT_S = 850   # the first run also builds, within 900 s

# Spark on JDK 17 outside spark-submit needs these (as graft's build.sbt sets)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads: graft's main sources and build, and the benchmark's."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, 9)
        p.wait()
        fail(f"timed out after {timeout:.0f} s: {' '.join(cmd[:3])} ...")
    return p.returncode, out


def classpath(deadline, want):
    """The runtime classpath, building first if the sources' stamp changed."""
    cp_file, stamp_file = os.path.join(BUILD, "classpath.txt"), os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == want:
                with open(cp_file) as g:
                    return g.read().strip(), False
    if not shutil.which("sbt"):
        fail("sbt not found")
    # sbt's temp files, JNA scratch and perf data stay inside the checkout
    sbt_tmp = os.path.join(BUILD, "sbt-tmp")
    os.makedirs(sbt_tmp, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SBT_OPTS"] = " ".join(filter(None, [
        env.get("SBT_OPTS"), "-Dsbt.offline=true", "-Dsbt.boot.lock=false", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={sbt_tmp}", f"-Djna.tmpdir={sbt_tmp}"]))
    code, out = run_group(
        ["sbt", "--batch", "-Dsbt.server.autostart=false", "export Runtime/fullClasspath"],
        deadline - time.time(), cwd=HERE, env=env, stdout=subprocess.PIPE, text=True)
    if code != 0:
        sys.stderr.write(out[-4000:])
        fail(f"build failed (sbt exit {code})")
    lines = [l for l in out.splitlines() if l.strip() and not l.startswith("[")]
    if not lines or ".jar" not in lines[-1]:
        fail("could not read the classpath from sbt")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(want)
    return lines[-1].strip(), True


def java_cmd(cp, main_args, tmpdir, heap="3g"):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    return [java, *opens, "-XX:-UsePerfData", f"-Xms{heap}", f"-Xmx{heap}",
            f"-Djava.io.tmpdir={tmpdir}", "-Dspark.ui.enabled=false",
            "-cp", cp, "perfbench.Main", *main_args]


def artifact(a, seed, trace):
    return os.path.join(HERE, "out", f"{a.workload}_{a.data}_seed{seed}_trace{trace}.json")


def built_by(path, build):
    """Whether `path` is an artifact of the build `build`."""
    try:
        with open(path) as f:
            return json.load(f).get("build") == build
    except (OSError, ValueError):
        return False


def references(a, build):
    """The untraced artifacts of this build a traced run compares with."""
    same = artifact(a, a.seed, 0)
    if built_by(same, build):
        return [same]
    return sorted(p for p in glob.glob(artifact(a, "*", 0)) if built_by(p, build))


def main():
    t0 = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True, help="accepted, not used")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", default="sf0.01", help="dataset under perfbench/data")
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("graft's sources are not next to perfbench/ (need build.sbt and src/main)")
    data = os.path.join(HERE, "data", a.data)
    if not os.path.isdir(data):
        fail(f"no dataset {data}")

    build = stamp()
    cp, built = classpath(t0 + BUILD_LIMIT_S, build)
    refs = references(a, build) if a.trace == 1 else []
    traces = [a.trace] if a.trace == 0 or refs else [0, 1]
    for trace in traces:
        main_args = [
            "--workload", a.workload, "--seed", str(a.seed), "--trace", str(trace),
            "--data", data, "--expected", os.path.join(HERE, "expected_counts.json"),
            "--out", os.path.join(HERE, "out"), "--build", build]
        if trace == 1:
            main_args += ["--reference", ",".join(refs or [artifact(a, a.seed, 0)])]
        work = os.path.join(BUILD, f"run-{os.getpid()}-{trace}")
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        try:
            limit = (BUILD_LIMIT_S if built else RUN_LIMIT_S) - (time.time() - t0)
            code, out = run_group(java_cmd(cp, main_args + ["--work", work], tmp),
                                  limit, cwd=work, stdout=subprocess.PIPE, text=True)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        if code != 0:
            fail(f"benchmark JVM exited with {code}")
    sys.stdout.write(out)


if __name__ == "__main__":
    main()
