#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run from the root of a checkout. The first run builds the program and the
benchmark's own Scala code (perfbench.Main) from the checkout's sources with
sbt. Each build's class directories are copied into
.bench_build/build-<hash>/, keyed by a hash of every source and build file,
so a later run of the same sources uses the bytes built from them even after
sbt has rebuilt the shared target/ directories for other sources. Every run
then starts one JVM on that classpath. The JVM's last stdout line, one JSON
object, is printed last. The full named record of the run is written to
.bench_build/records/.

--selftest runs every workload once on tiny inputs, untraced and traced, and
once with a deliberately wrong expected hash, and checks that every metric
named in BENCHMARK.json appears with its unit, that every output check
passes, and that the wrong hash is caught.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.realpath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ["jdbc_etl", "increment_stream"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
DRIVER_HEAP = "3g"

# Spark on JDK 17 needs these when the session is created outside
# spark-submit (the same list the program's own build passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

# What the build reads: the program's sources and build, and the benchmark's.
SOURCES = ["build.sbt", "project/build.properties", "src/main",
           "perfbench/build.sbt", "perfbench/project/build.properties",
           "perfbench/src"]


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def fingerprint():
    h = hashlib.sha256()
    for rel in SOURCES:
        path = os.path.join(ROOT, rel)
        if os.path.isfile(path):
            files = [path]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:20]


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; kills the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        return None, None


def build():
    """Compiles the program and perfbench.Main once per source fingerprint;
    returns the runtime classpath, with every entry built from the checkout
    replaced by a copy kept under that fingerprint."""
    for rel in ("build.sbt", "src/main/scala/graft"):
        if not os.path.exists(os.path.join(ROOT, rel)):
            fail("program sources not found (%s); run from the root of a checkout" % rel)
    fp = fingerprint()
    cache = os.path.join(BUILD, "classpath-%s.txt" % fp)
    if os.path.isfile(cache):
        with open(cache) as fh:
            cp = fh.read().strip()
        if all(os.path.exists(e) for e in cp.split(os.pathsep)):
            return cp
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep every JVM sbt starts from writing temp and perf files elsewhere
    env = dict(os.environ, JAVA_TOOL_OPTIONS=" ".join(
        ["-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp, "-Djna.tmpdir=" + tmp]))
    log = os.path.join(BUILD, "build.log")
    with open(log, "wb") as lf:
        code, out = run_group(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "export Runtime/fullClasspath"],
            BUILD_TIMEOUT_S, cwd=HERE, stdout=subprocess.PIPE, stderr=lf,
            stdin=subprocess.DEVNULL, env=env)
    if code != 0:
        with open(log, "ab") as lf:
            lf.write(out or b"")
        fail("build failed (exit %s); see %s" % (code, log), 1)
    lines = [l for l in out.decode().splitlines()
             if ".jar" in l and os.pathsep in l and not l.startswith("[")]
    if not lines:
        fail("build printed no classpath; see %s" % log, 1)
    # sbt compiles into target/ directories that the next build of other
    # sources overwrites; keep this build's own copy of each
    dest = os.path.join(BUILD, "build-%s" % fp)
    staging = dest + ".tmp-%d" % os.getpid()
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    entries = []
    for i, e in enumerate(lines[-1].strip().split(os.pathsep)):
        real = os.path.realpath(e)
        if real != ROOT and not real.startswith(ROOT + os.sep):
            entries.append(e)
            continue
        name = "%02d-%s" % (i, os.path.basename(real))
        if os.path.isdir(real):
            shutil.copytree(real, os.path.join(staging, name))
        elif os.path.isfile(real):
            shutil.copy2(real, os.path.join(staging, name))
        else:
            continue
        entries.append(os.path.join(dest, name))
    shutil.rmtree(dest, ignore_errors=True)
    os.rename(staging, dest)
    cp = os.pathsep.join(entries)
    with open(cache + ".tmp", "w") as fh:
        fh.write(cp)
    os.replace(cache + ".tmp", cache)
    return cp


def run_java(cp, args, tag):
    """Runs one benchmark JVM; returns (exit code, stdout lines)."""
    run_dir = os.path.join(BUILD, "run", "%s-%d" % (tag, os.getpid()))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env["GRAFT_WAREHOUSE"] = os.path.join(run_dir, "warehouse")
    env["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark")
    java = os.path.join(env["JAVA_HOME"], "bin", "java") if env.get("JAVA_HOME") else "java"
    cmd = [java]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-XX:-UsePerfData", "-Xms" + DRIVER_HEAP, "-Xmx" + DRIVER_HEAP,
            "-Djava.io.tmpdir=" + tmp,
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main"] + args + [
            "--dir", os.path.join(run_dir, "data"),
            "--out", os.path.join(BUILD, "records")]
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    log = os.path.join(BUILD, "logs", "%s.log" % tag)
    try:
        with open(log, "wb") as lf:
            code, out = run_group(cmd, RUN_TIMEOUT_S, cwd=run_dir, env=env,
                                  stdout=subprocess.PIPE, stderr=lf,
                                  stdin=subprocess.DEVNULL)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if code is None:
        fail("run timed out after %d s; see %s" % (RUN_TIMEOUT_S, log), 1)
    lines = out.decode(errors="replace").splitlines()
    if code != 0:
        sys.stdout.write("\n".join(lines[-20:]) + "\n")
        with open(log, "rb") as lf:
            sys.stderr.write(lf.read()[-4000:].decode(errors="replace"))
        fail("run failed with exit code %d; see %s" % (code, log), 1)
    return lines


def result_of(lines):
    if not lines:
        fail("run printed nothing", 1)
    res = json.loads(lines[-1])
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line: %s" % lines[-1], 1)
    return res


def selftest(cp):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    problems = []
    for wl in WORKLOADS:
        for trace, kind in (("0", "end_to_end"), ("1", "per_layer")):
            lines = run_java(cp, ["--workload", wl, "--seed", "7", "--seconds", "2",
                                  "--trace", trace, "--scale", "tiny"],
                             "selftest-%s-%s" % (wl, trace))
            res = result_of(lines)
            want = {m["name"]: m["unit"] for m in spec[kind]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want:
                problems.append("%s trace=%s: metrics %s, expected %s" % (wl, trace, got, want))
            if not res["correct"] or res["failed"] != 0 or res["attempted"] < 1:
                problems.append("%s trace=%s: %d of %d ops failed" %
                                (wl, trace, res["failed"], res["attempted"]))
            print("selftest %-16s trace=%s attempted=%d failed=%d" %
                  (wl, trace, res["attempted"], res["failed"]))
    lines = run_java(cp, ["--workload", "jdbc_etl", "--seed", "7", "--seconds", "2",
                          "--trace", "0", "--scale", "tiny", "--corrupt-expected"],
                     "selftest-corrupt")
    res = result_of(lines)
    if res["correct"] or res["failed"] == 0:
        problems.append("a wrong expected hash was not caught: %s" % lines[-1])
    print("selftest corrupt expected hash: failed=%d of %d" % (res["failed"], res["attempted"]))
    for p in problems:
        print("selftest FAIL: " + p)
    if problems:
        sys.exit(1)
    print("selftest ok")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")
    cp = build()
    if a.selftest:
        selftest(cp)
        return
    lines = run_java(cp, ["--workload", a.workload, "--seed", str(a.seed),
                          "--seconds", str(a.seconds), "--trace", a.trace],
                     "%s-%d-%s" % (a.workload, a.seed, a.trace))
    result_of(lines)
    sys.stdout.write("\n".join(lines) + "\n")
    sys.stdout.flush()


if __name__ == "__main__":
    main()
