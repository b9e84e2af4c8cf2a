#!/usr/bin/env python3
"""graft benchmark launcher.

    python3 perfbench/run.py --workload vendor_etl --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Run from the root of a graft checkout. The first run builds the library and
the benchmark from source with sbt (offline) into `.bench_build/`; later runs
reuse that build while the sources are unchanged. Each run launches one JVM
(`graft.perfbench.Main`) in a fresh directory under `.bench_run/`, which is
deleted afterwards; trace files land in `.bench_out/`. The JVM prints the
result as the last stdout line, which this script repeats as its own last
line. Exits nonzero, without a result line, when the checkout holds no graft
sources or the build fails.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
RUNS = os.path.join(ROOT, ".bench_run")
OUT = os.path.join(ROOT, ".bench_out")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
STAMP = os.path.join(BUILD, "stamp.txt")
# class-data-sharing archive of the JVM's loaded classes, dumped by the first
# workload run after a build and mapped by later runs: Spark's cold class
# loading is a large fixed share of every run
CDS = os.path.join(BUILD, "classes.jsa")

WORKLOADS = ("vendor_etl", "corpus_curation", "lake_churn")
BUILD_TIMEOUT_S = 800
RUN_TIMEOUT_S = 170
HEAP = "2g"

# Spark 4 on JDK 17 needs these outside spark-submit (the library's own
# build.sbt passes the same list to its forked runs).
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
    """Every file whose change must trigger a rebuild."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, subdirs, names in os.walk(r):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    return files


def source_stamp():
    h = hashlib.sha256()
    for f in source_files():
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout
    and wait for it, so no process outlives this script."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, err = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        fail(f"timed out after {timeout}s: {' '.join(cmd[:3])} ...")
    return p.returncode, out, err


def build():
    """Compile library + benchmark with sbt and record the runtime
    classpath; skipped while the sources are unchanged."""
    stamp = source_stamp()
    if os.path.isfile(CLASSPATH) and os.path.isfile(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == stamp:
                return
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos) and "sbt.repository.config" not in opts:
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env["SBT_OPTS"] = opts.strip()
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        code, _, _ = run_group(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "export perfbench/Runtime/fullClasspath"],
            BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT)
    with open(log) as fh:
        lines = fh.read().splitlines()
    cp = [l for l in lines if not l.startswith("[") and ".jar" in l and os.pathsep in l]
    if code != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {code}); see {log}")
    # class directories become jars: the class-data-sharing archive accepts
    # only jar files on the classpath
    entries = []
    for i, e in enumerate(cp[-1].strip().split(os.pathsep)):
        if os.path.isdir(e):
            jar = os.path.join(BUILD, f"classes-{i}.jar")
            with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
                for d, _, names in os.walk(e):
                    for n in sorted(names):
                        f = os.path.join(d, n)
                        z.write(f, os.path.relpath(f, e))
            e = jar
        entries.append(e)
    with open(CLASSPATH, "w") as fh:
        fh.write(os.pathsep.join(entries))
    if os.path.exists(CDS):
        os.remove(CDS)
    with open(STAMP, "w") as fh:
        fh.write(stamp)


def java_cmd(main_args, run_dir, dump_cds):
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    if os.path.exists(CDS):
        cds = [f"-XX:SharedArchiveFile={CDS}", "-Xlog:cds=off"]
    elif dump_cds:
        cds = [f"-XX:ArchiveClassesAtExit={CDS}", "-Xlog:cds=off", "-Xlog:cds+dynamic=off"]
    else:
        cds = []
    return [java, *opens, f"-Xms{HEAP}", f"-Xmx{HEAP}", *cds,
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            f"-Dspark.local.dir={os.path.join(run_dir, 'spark-local')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, *main_args]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="check the metric arithmetic on synthetic spans and samples")
    a = ap.parse_args()
    if not a.selftest and a.workload is None:
        ap.error("--workload is required")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no graft sources under {ROOT}: run from the root of a graft checkout")
    build()

    run_dir = os.path.join(RUNS, f"{a.workload or 'selftest'}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.makedirs(OUT, exist_ok=True)
    if a.selftest:
        main_args = ["graft.perfbench.SelfTest"]
    else:
        main_args = ["graft.perfbench.Main", "--workload", a.workload,
                     "--seed", str(a.seed), "--seconds", str(a.seconds),
                     "--trace", str(a.trace), "--dir", run_dir, "--out", OUT]
    log = os.path.join(OUT, f"{a.workload or 'selftest'}-seed{a.seed}-trace{a.trace}.log")
    t0 = time.time()
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir: keep both in the run dir
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    try:
        with open(log, "w") as err:
            code, out, _ = run_group(java_cmd(main_args, run_dir, not a.selftest), RUN_TIMEOUT_S,
                                     cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=err,
                                     text=True)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = out.splitlines()
    result = next((l for l in reversed(lines) if l.startswith('{"correct"')), None)
    for l in lines:
        if l is not result:
            print(l)
    if code != 0 or (result is None and not a.selftest):
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-30:]))
        print(f"perfbench: JVM exited {code} after {time.time() - t0:.1f}s; log {log}",
              file=sys.stderr)
    if result is not None:
        print(result)
    sys.exit(code if code != 0 else (0 if result is not None or a.selftest else 1))


if __name__ == "__main__":
    main()
