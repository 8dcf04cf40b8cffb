#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload weather_etl --seed 1 --seconds 15 --trace 0

The first run in a checkout builds the engine and the benchmark from
source with sbt (offline); later runs reuse the build while the sources
are unchanged. The benchmark runs in its own JVM; every file it writes
stays under perfbench/out. The last stdout line is the JSON result:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
Each result is also kept under perfbench/out/results for compare.py.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
BUILD = os.path.join(HERE, "target", "bench-build")
WORKLOADS = ("weather_etl", "query_sweep", "table_upsert")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
# A fixed heap and young generation: with a growing heap, peak RSS
# followed GC timing and varied by a third between identical runs.
JVM_OPTS = ["-Xms3g", "-Xmx3g", "-Xmn1g"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every input of the build: engine and benchmark sources."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
              os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, dirs, files in os.walk(top):
            dirs.sort()
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; on timeout kill the whole group."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise
    return p.returncode, out, err


def classpath():
    """Build when the sources changed; return the runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no engine sources in {ROOT} (missing {need}); nothing to benchmark")
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt not found on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline=true" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    print("perfbench: building engine and benchmark (sbt compile)", file=sys.stderr)
    t0 = time.time()
    try:
        code, out, _ = run_group(
            [sbt, "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
            stdin=subprocess.DEVNULL, text=True)
    except subprocess.TimeoutExpired:
        fail(f"build timed out after {BUILD_TIMEOUT_S} s")
    if code != 0:
        sys.stderr.write(out)
        fail(f"build failed (sbt exit {code})")
    lines = [l for l in out.splitlines() if not l.startswith("[") and os.pathsep in l]
    if not lines:
        sys.stderr.write(out)
        fail("build printed no classpath")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return lines[-1].strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = classpath()
    work = os.path.join(OUT, f"work-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    trace_out = os.path.join(OUT, "traces", f"{a.workload}-seed{a.seed}-{stamp}.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java] + JVM_OPTS + [
        f"-Djava.io.tmpdir={tmp}",
        "-Dlog4j2.configurationFile=" + os.path.join(HERE, "conf", "log4j2.properties"),
        "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work,
            "--state", os.path.join(OUT, "state"), "--trace-out", trace_out]
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)  # spark.local.dir keeps Spark's scratch under work
    try:
        code, out, _ = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                                 stderr=sys.stderr, stdin=subprocess.DEVNULL, text=True)
    except subprocess.TimeoutExpired:
        fail(f"{a.workload} did not finish within {RUN_TIMEOUT_S} s", 3)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    if code != 0 or not isinstance(result, dict) or "metrics" not in result:
        sys.stdout.write("\n".join(lines[:-1]) + "\n" if lines else "")
        fail(f"{a.workload} exited {code} without a result", 1)
    summary = {}
    for l in lines[:-1]:
        parts = l.split()
        if len(parts) == 5 and parts[0] == "#" and parts[1] == a.workload:
            summary[parts[2]] = {"value": float(parts[3]), "unit": parts[4]}
    saved = os.path.join(OUT, "results", a.workload)
    os.makedirs(saved, exist_ok=True)
    with open(os.path.join(saved, f"t{a.trace}-seed{a.seed}-{stamp}-{os.getpid()}.json"), "w") as f:
        json.dump({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                   "result": result, "summary": summary}, f, indent=1)
    print("\n".join(lines))


if __name__ == "__main__":
    main()
