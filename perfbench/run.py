#!/usr/bin/env python3
"""graft end-to-end benchmark: build, run one workload, print its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a source checkout. The first run compiles the engine
(src/main/scala) and the benchmark (perfbench/scala) with the Scala compiler
that ships in Spark's jar directory, into .bench_build/perfbench-<hash>/
(the hash covers every source file, so an edited tree rebuilds). Each run
then starts ONE fresh JVM that runs one workload in a closed loop with a
single client at local[<cores>], checks the engine's outputs against the
generator's model, and prints one JSON result as the last stdout line.

Everything the run writes (lake tables, CSV inputs, Spark scratch, JVM
temp files, the JVM log) lives under .bench_build/ in the checkout and the
per-run work directory is deleted at exit. See perfbench/README.md for the
workloads, metrics and their rationale.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("callcenter_daily", "lake_upserts")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
# The JVM flags build.sbt gives every forked run (Spark 4 on JDK 17 needs
# the opens outside spark-submit), with a fixed heap so the figures do not
# depend on the host's memory size. The first 2 GB of heap are committed and
# touched at start-up: without that, G1's heap growth decides peak RSS
# (which then spread 16-19 % between runs) and first-touch page faults land
# inside the timed ops.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
HEAP_FLAGS = ["-Xms2g", "-XX:+AlwaysPreTouch", "-Xmx4g"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail("no Spark installation with a Scala compiler jar (set SPARK_HOME)")
    return jars


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "scala/*.scala")))
    if not main:
        fail("no engine sources under src/main/scala — run from the root of a graft checkout")
    if not bench:
        fail("no benchmark sources under perfbench/scala")
    return main + bench


def build(root, jars):
    srcs = sources(root)
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    out = os.path.join(root, ".bench_build", "perfbench-" + h.hexdigest()[:16])
    classes = os.path.join(out, "classes")
    if os.path.isdir(classes):
        return classes
    os.makedirs(out, exist_ok=True)
    stage = tempfile.mkdtemp(prefix="classes-", dir=out)
    t0 = time.time()
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={out}",
           "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", stage,
           "-classpath", os.path.join(jars, "*")] + srcs
    r = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        shutil.rmtree(stage, ignore_errors=True)
        sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
        fail("compilation failed")
    os.rename(stage, classes)
    print(f"perfbench: built {len(srcs)} sources in {time.time() - t0:.1f} s",
          file=sys.stderr)
    return classes


def check_result(line, trace, names):
    res = json.loads(line)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
    assert isinstance(res["attempted"], int) and res["attempted"] >= 1
    assert isinstance(res["failed"], int) and 0 <= res["failed"] <= res["attempted"]
    want = names["per_layer" if trace else "end_to_end"]
    got = res["metrics"]
    assert set(got) == set(want), sorted(set(got) ^ set(want))
    assert all(isinstance(v, (int, float)) for v in got.values()), got
    res["metrics"] = {n: {"value": got[n], "unit": want[n]} for n in want}
    return res


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be positive")

    root = os.getcwd()
    spec = os.path.join(root, "BENCHMARK.json")
    if not os.path.isfile(spec):
        fail("no BENCHMARK.json — run from the root of the checkout")
    with open(spec) as f:
        bench = json.load(f)
    names = {k: {m["name"]: m["unit"] for m in bench[k]} for k in ("end_to_end", "per_layer")}

    jars = spark_jars()
    classes = build(root, jars)

    base = os.path.join(root, ".bench_build")
    work = tempfile.mkdtemp(prefix=f"run-{a.workload}-", dir=base)
    log_path = os.path.join(base, f"last-{a.workload}-trace{a.trace}.log")
    env = dict(os.environ)
    env["GRAFT_TMP"] = os.path.join(work, "graft-tmp")
    cpus = str(len(os.sched_getaffinity(0)))
    jvm = (["java"] + HEAP_FLAGS + ["-XX:ReservedCodeCacheSize=512m",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/jtmp",
            "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
              "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--cpus", cpus, "--work", work])
    os.makedirs(os.path.join(work, "jtmp"), exist_ok=True)
    proc = None
    try:
        with open(log_path, "wb") as log:
            proc = subprocess.Popen(jvm, cwd=work, env=env, stdout=subprocess.PIPE,
                                    stderr=log, start_new_session=True)
            try:
                out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                fail(f"run exceeded {RUN_TIMEOUT_S} s (JVM log: {log_path})")
        lines = [l for l in out.decode(errors="replace").splitlines() if l.strip()]
        for l in lines[:-1]:
            print(l)
        if proc.returncode != 0 or not lines:
            with open(log_path, errors="replace") as f:
                sys.stderr.write(f.read()[-4000:])
            fail(f"benchmark JVM exited with {proc.returncode}")
        try:
            res = check_result(lines[-1], a.trace, names)
        except (ValueError, AssertionError) as e:
            fail(f"malformed result line ({e!r}): {lines[-1][:500]}")
        print(json.dumps(res))
        sys.exit(0)
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
