#!/usr/bin/env python3
"""Benchmark launcher.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. It builds the program and the benchmark
from source with sbt (once per source state; the build is cached under
the build directory, `$CARGO_TARGET_DIR` or `.bench_build`), writes the
query workloads' input tables once, then runs one workload in one JVM and
prints its result JSON as the last line of standard output.

Extra options for development and the smoke test:
    --scale full|smoke        input sizes (default full)
    --inject none|digest|drop-tick
                              corrupt one expected digest, or lose one tick
    --record-digests          write the digests a run sees instead of
                              checking them
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_REL = os.path.relpath(HERE, os.getcwd())
WORKLOADS = ("tick_stream", "market_queries", "curation_batch")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800

# Spark on JDK 17 needs these when the session is created outside
# spark-submit (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files(root):
    """Every file the build reads: the program's build and sources, and the benchmark's."""
    picks = [os.path.join(root, "build.sbt")]
    for top in ("project", "src/main", os.path.join(BENCH_REL, "project"),
                os.path.join(BENCH_REL, "src")):
        base = os.path.join(root, top)
        for d, subdirs, files in os.walk(base):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            picks += [os.path.join(d, f) for f in sorted(files)]
    picks.append(os.path.join(HERE, "build.sbt"))
    return [p for p in picks if os.path.isfile(p)]


def fingerprint(root):
    h = hashlib.sha256()
    for p in source_files(root):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def build(root, out):
    """Compile with sbt and return the runtime classpath (cached by source fingerprint)."""
    if not os.path.isfile(os.path.join(root, "build.sbt")) or \
            not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: no program sources here (build.sbt, src/main/scala/graft); "
                         "run from the root of a full checkout")
    cp_file = os.path.join(out, f"classpath-{fingerprint(root)}.txt")
    if os.path.isfile(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    log("building program and benchmark with sbt ...")
    sbt_log = os.path.join(out, "sbt.log")
    tmp = os.path.join(out, "tmp")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.global.base=" + os.path.join(out, "sbt-global"),
           "-Dsbt.server.forcestart=false",
           "-J-XX:-UsePerfData", "-J-Djava.io.tmpdir=" + tmp, "-J-Djna.tmpdir=" + tmp,
           "compile", "export Runtime/fullClasspath"]
    with open(sbt_log, "w") as logf:
        proc = subprocess.run(cmd, cwd=HERE, stdout=subprocess.PIPE, stderr=logf,
                              stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S, text=True)
        logf.write(proc.stdout)
    lines = [l for l in proc.stdout.splitlines() if l and not l.startswith("[")]
    if proc.returncode != 0 or not lines or ".jar" not in lines[-1]:
        raise SystemExit(f"perfbench: sbt build failed (exit {proc.returncode}); see {sbt_log}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp + "\n")
    return cp


def java_cmd(cp, out, main_args):
    return (["java", "-Xms4g", "-Xmx4g", "-XX:+UseG1GC", "-XX:-UsePerfData"]
            + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-Djava.io.tmpdir=" + os.path.join(out, "tmp"),
               "-Dspark.sql.warehouse.dir=" + os.path.join(out, "warehouse"),
               "-Dspark.ui.enabled=false",
               "-Dspark.sql.session.timeZone=UTC",
               "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
               "-cp", cp, "perfbench.Main"] + main_args)


def run_java(cmd, timeout):
    """Run the JVM; relay its stderr; return its stdout lines. Never leaves it running."""
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("GRAFT_") and k not in ("SPARK_LOCAL_DIRS", "_JAVA_OPTIONS")}
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, stdin=subprocess.DEVNULL,
                            env=env, text=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit(f"perfbench: run exceeded {timeout} s")
    if proc.returncode != 0:
        raise SystemExit(f"perfbench: JVM exited with {proc.returncode}")
    return out.splitlines()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--scale", default="full", choices=("full", "smoke"))
    ap.add_argument("--inject", default="none", choices=("none", "digest", "drop-tick"))
    ap.add_argument("--record-digests", action="store_true")
    a = ap.parse_args()

    root = os.getcwd()
    out = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(os.path.join(out, "tmp"), exist_ok=True)
    cp = build(root, out)
    data = os.path.join(out, "data", a.scale)
    run_java(java_cmd(cp, out, ["prepare", "--data", data, "--scale", a.scale]), 600)

    args = ["run", "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work", os.path.join(out, "work"), "--data", data,
            "--digests", os.path.join(HERE, "digests"), "--scale", a.scale, "--inject", a.inject]
    if a.record_digests:
        args.append("--record-digests")
    lines = run_java(java_cmd(cp, out, args), RUN_TIMEOUT_S)
    result = None
    for line in lines:
        if line.startswith("CONTEXT "):
            print(line[len("CONTEXT "):], file=sys.stderr)
        elif line.startswith("RESULT "):
            result = json.loads(line[len("RESULT "):])
        elif line.strip():
            print(line, file=sys.stderr)
    if result is None:
        raise SystemExit("perfbench: the run printed no result")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
