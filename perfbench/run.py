#!/usr/bin/env python3
"""Run one benchmark workload against the engine sources of this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness with sbt (offline); later runs reuse the build until a source file
changes. The harness prints a readable metric listing, then one JSON result
line last. Exits non-zero, without a result line, when the engine sources
are missing or the run fails.
"""
import argparse
import os
import shutil
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
OUT = os.path.join(ROOT, ".bench_out")
CLASSPATH = os.path.join(BUILD, "perfbench.classpath")
WORKLOADS = ("ingest_upsert", "lake_read")
RUN_TIMEOUT_S = 170
HEAP = "3g"

# Spark on JDK 17 needs these outside spark-submit (the engine build's list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads: engine and harness sources, build files."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main"),
             os.path.join(ROOT, "project"), os.path.join(BENCH, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = [x for x in dirs if x != "target"]
            files += [os.path.join(d, n) for n in names]
    return files


def build():
    """Compile engine + harness if any source is newer than the last build;
    returns the runtime classpath."""
    newest = max(os.path.getmtime(f) for f in sources())
    if os.path.exists(CLASSPATH) and os.path.getmtime(CLASSPATH) >= newest:
        with open(CLASSPATH) as f:
            return f.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.forcestart=false"]
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "export Runtime/fullClasspath"],
                           cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=out,
                           text=True, timeout=840)
        out.write(p.stdout)
    lines = [ln for ln in p.stdout.splitlines() if ".jar" in ln and not ln.startswith("[")]
    if p.returncode != 0 or not lines:
        fail(f"build failed (exit {p.returncode}); see {log}")
    cp = lines[-1].strip()
    with open(CLASSPATH, "w") as f:
        f.write(cp)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    for need in ("build.sbt", os.path.join("src", "main", "scala"),
                 os.path.join("perfbench", "build.sbt")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from the root of a checkout with the engine sources")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    cp = build()

    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(WORK, f"{a.workload}-{a.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--work", work, "--cpus", str(cpus)]
    if a.trace == "1":
        cmd += ["--trace-out", os.path.join(OUT, f"trace-{a.workload}-{a.seed}.jsonl")]
    t0 = time.time()
    try:
        p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S}s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = p.stdout.rstrip("\n").splitlines()
    if p.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stdout.write("".join(ln + "\n" for ln in lines if not ln.startswith("{")))
        fail(f"harness exited {p.returncode} after {time.time() - t0:.0f}s")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
