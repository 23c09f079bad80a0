#!/usr/bin/env python3
"""Sink benchmark entry point.

    python3 sinkbench/run.py --workload <backfill_fanout|curate_stream|cdc_stream>
        --seed <n> --seconds <s> --trace <0|1> [--cores <n>]

Run from the repository root. Builds the engine from `src/main/scala`
together with the benchmark's own sources (sbt, in this directory) when
either changed since the last build, then runs one workload in a JVM with
a fixed heap. The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}. See README.md.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(HERE, "target")
OUT = os.path.join(HERE, "out")
STAMP = os.path.join(TARGET, "sinkbench.classpath")
HEAP = "2g"
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840
WORKLOADS = ("backfill_fanout", "cdc_stream", "curate_stream")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"sinkbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    h = hashlib.sha256()
    for base in (ENGINE, os.path.join(HERE, "src", "main"), os.path.join(HERE, "project")):
        for d, dirs, files in sorted(os.walk(base)):
            dirs[:] = sorted(x for x in dirs if x != "target")
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    with open(os.path.join(HERE, "build.sbt"), "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()


def classpath():
    """Build when the sources changed; return the runtime class path."""
    digest = source_digest()
    if os.path.exists(STAMP):
        with open(STAMP) as fh:
            stamped, cp = fh.read().split("\n", 1)
        if stamped == digest:
            return cp.strip()
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt not found on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = [sbt, "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "compile", "export Runtime/fullClasspath"]
    res = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                         stderr=subprocess.STDOUT, text=True, timeout=BUILD_LIMIT_S)
    lines = [x.strip() for x in res.stdout.splitlines()]
    cps = [x for x in lines if ".jar" in x and os.pathsep in x and not x.startswith("[")]
    if res.returncode != 0 or not cps:
        sys.stderr.write(res.stdout[-4000:])
        fail(f"build failed (sbt exit {res.returncode})")
    os.makedirs(TARGET, exist_ok=True)
    with open(STAMP, "w") as fh:
        fh.write(digest + "\n" + cps[-1] + "\n")
    return cps[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=None,
                    help="Spark cores and shuffle partitions (default: 2, capped at the host's)")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ENGINE, "graft")):
        fail(f"engine sources not found under {os.path.relpath(ENGINE)}; run from a full checkout")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME is not set")

    cp = classpath()
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(OUT, 'spark-warehouse')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "graft.sinkbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--out", OUT]
    if a.cores is not None:
        cmd += ["--cores", str(a.cores)]
    t0 = time.time()
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_LIMIT_S} s")
    lines = [x for x in out.splitlines() if x.strip()]
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        fail(f"run failed (exit {proc.returncode}) after {time.time() - t0:.1f} s")
    print(lines[-1])


if __name__ == "__main__":
    main()
