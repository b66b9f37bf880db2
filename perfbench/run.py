#!/usr/bin/env python3
"""One command for the engine benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the repository. The first run builds the
engine together with the benchmark (sbt, offline) into `.bench_build/` and
keeps the compiled classes and the classpath under a digest of every source
it compiled; later runs of the same sources start the JVM directly. The JVM
generates the workload's inputs from the seed, measures, checks every
result, and prints one JSON object as the last line of stdout. Everything the run writes stays under `.bench_build/`.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
ENGINE_SRC = os.path.join(ROOT, "src", "main")
OUT = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("logfile-ingest", "query-mix", "table-commits")

# Spark 4 on JDK 17 outside spark-submit needs these module openings
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(BENCH, "src"), os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties"), ENGINE_SRC]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def classpath():
    """Compile once per source digest; return the runtime classpath.

    sbt compiles into one mutable target directory, so each digest keeps its
    own copy of the compiled classes and its stamp points at that copy: going
    back to earlier sources never runs classes built from later ones.
    """
    digest = source_digest()
    stamp = os.path.join(OUT, f"classpath-{digest}.txt")
    classes = os.path.join(OUT, f"classes-{digest}")
    # a stamp whose classes are gone is stale
    for name in os.listdir(OUT) if os.path.isdir(OUT) else []:
        if name.startswith("classpath-") and not os.path.isdir(
                os.path.join(OUT, "classes-" + name[len("classpath-"):-len(".txt")])):
            os.remove(os.path.join(OUT, name))
    if os.path.exists(stamp):
        with open(stamp) as f:
            return f.read().strip()
    os.makedirs(OUT, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=700)
    lines = proc.stdout.strip().splitlines()
    built = os.path.join(BENCH, "target", "scala-2.13", "classes")
    entries = lines[-1].split(os.pathsep) if lines else []
    if proc.returncode != 0 or built not in entries:
        sys.stderr.write(proc.stdout[-4000:])
        die("build failed")
    for d in (classes, classes + ".tmp"):
        shutil.rmtree(d, ignore_errors=True)
    shutil.copytree(built, classes + ".tmp")
    os.rename(classes + ".tmp", classes)
    cp = os.pathsep.join(classes if e == built else e for e in entries)
    with open(stamp, "w") as f:
        f.write(cp)
    return cp


def java_cmd(cp, run_dir, main, args, trace=False):
    opts = [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] + [
        "-Xms2g", "-Xmx2g", "-XX:+UseG1GC",
        "-XX:-UsePerfData",  # no hsperfdata file outside the checkout
        "-Duser.timezone=UTC",
        f"-Djava.io.tmpdir={run_dir}/tmp",
        f"-Dlog4j2.configurationFile={BENCH}/log4j2.properties",
        "-Dspark.ui.enabled=false",
        f"-Dspark.local.dir={run_dir}/spark-local",
        f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
    ]
    if trace:
        # the counting filesystem rides the session's own Hadoop config, so
        # the session is still built by GraftSession.create, untouched
        opts.append("-Dspark.hadoop.fs.file.impl=perfbench.CountingFileSystem")
    return ["java"] + opts + ["-cp", cp, main] + args


def run_java(cmd, timeout):
    """Run the JVM in its own process group; kill the group on timeout."""
    proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        die(f"timed out after {timeout} s")
    return proc.returncode, out


def complete(result, trace):
    """Lists exactly BENCHMARK.json's metrics for the run's mode, in its order.

    A traced run reports the layers its workload exercises; every other
    per-layer metric is a count, ratio or size, and reads 0 there.
    """
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        want = json.load(f)["per_layer" if trace else "end_to_end"]
    got = result["metrics"]
    for m in want:
        if m["name"] not in got:
            if not trace or m["unit"] == "s":
                die(f"the run did not measure {m['name']}")
            got[m["name"]] = {"value": 0, "unit": m["unit"]}
    result["metrics"] = {m["name"]: got[m["name"]] for m in want}
    return result


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala", "graft")):
        die("run from the root of a checkout: the engine sources are missing")
    if shutil.which("sbt") is None or not os.environ.get("SPARK_HOME"):
        die("needs sbt on PATH and SPARK_HOME set")
    cp = classpath()
    run_dir = os.path.join(OUT, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    try:
        code, out = run_java(
            java_cmd(cp, run_dir, "perfbench.Main",
                     [a.workload, str(a.seed), str(a.seconds), str(a.trace),
                      run_dir, BENCH, os.path.join(OUT, "traces")],
                     trace=bool(a.trace)),
            timeout=170)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = out.rstrip("\n").splitlines()
    if code != 0 or not lines or not lines[-1].startswith('{"correct"'):
        sys.stdout.write(out[-4000:].replace('{"correct"', "{ correct"))
        die(f"benchmark JVM failed (exit {code})")
    print("\n".join(lines[:-1]))
    print(json.dumps(complete(json.loads(lines[-1]), a.trace)))


if __name__ == "__main__":
    main()
