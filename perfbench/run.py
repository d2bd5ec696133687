#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload etl|curate|search --seed N \
        --seconds S --trace 0|1

Run it from the repository root. The first run builds the engine's sources
together with the benchmark (sbt, in this directory); later runs reuse the
build until a source file changes. Each run gets a fresh JVM and an empty
scratch directory under perfbench/.run/, removed when the run ends.

The build packs the compiled classes into one jar. The first run after a
build also dumps the classes it loaded into a class-data sharing archive
(target/cds.jsa); later runs map the archive instead of loading and
verifying the same classes again.
"""
import argparse
import os
import shutil
import subprocess
import sys
import zipfile

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
JAR = os.path.join(BENCH, "target", "perfbench.jar")
STAMP = os.path.join(BENCH, "target", "perfbench.stamp")
HEAP = "1536m"
RUN_TIMEOUT_S = 170
# a first run (build + run) stays within 900 s
BUILD_TIMEOUT_S = 700


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def newest_source_mtime():
    newest = 0.0
    for top in (ENGINE_SRC, os.path.join(BENCH, "src", "main")):
        for d, _, files in os.walk(top):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        newest = max(newest, os.path.getmtime(os.path.join(BENCH, f)))
    return newest


def build():
    if (os.path.exists(STAMP) and os.path.exists(JAR)
            and os.path.getmtime(STAMP) >= newest_source_mtime()):
        return
    log("building engine + benchmark with sbt")
    env = dict(os.environ)
    opts = env.get("SBT_OPTS", "")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "sbt.offline" not in opts and os.path.exists(repos):
        opts += (" -Dsbt.override.build.repos=true"
                 f" -Dsbt.repository.config={repos} -Dsbt.offline=true")
    opts += " -Dsbt.server.autostart=false -XX:-UsePerfData"
    opts += f" -Dsbt.global.base={os.path.join(BENCH, 'target', 'sbt-global')}"
    env["SBT_OPTS"] = opts.strip()
    env.setdefault("COURSIER_MODE", "offline")
    done = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"],
                          cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
                          timeout=BUILD_TIMEOUT_S)
    if done.returncode != 0:
        sys.exit(f"[perfbench] build failed (exit {done.returncode})")
    # class-data sharing archives only classes from jars, and an archive
    # is valid only for the jar it was dumped against
    with zipfile.ZipFile(JAR, "w") as jar:
        for d, _, files in os.walk(CLASSES):
            for f in sorted(files):
                full = os.path.join(d, f)
                jar.write(full, os.path.relpath(full, CLASSES))
    for f in os.listdir(os.path.dirname(JAR)):
        if f.startswith("cds."):
            os.remove(os.path.join(os.path.dirname(JAR), f))
    with open(STAMP, "w") as f:
        f.write("built\n")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["etl", "curate", "search"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()
    if not os.path.isdir(ENGINE_SRC):
        sys.exit(f"[perfbench] engine sources not found at {ENGINE_SRC}")
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        sys.exit("[perfbench] SPARK_HOME must name a Spark 4 installation")
    build()

    scratch = os.path.join(BENCH, ".run", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(os.path.join(scratch, "tmp"))
    opens = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]
    # a fixed heap; C1 only, because a run is too short to pay back C2
    # compilation, whose threads would compete with the four task threads
    # for four CPUs and move from run to run. The heap's pages are touched
    # at start: otherwise how much of the fixed heap G1 happens to touch
    # before the run ends moves the resident peak by up to 200 MB from run
    # to run, and rss_peak_mb would measure that rather than the memory the
    # process holds besides its heap (heap use is jvm.heap_peak_mb)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:+AlwaysPreTouch",
           "-XX:-UsePerfData", "-XX:TieredStopAtLevel=1",
           "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false"]
    for p in opens:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # the JVM's own log lines (class-data sharing warnings among them) go
    # to stderr: stdout ends with the result line
    cmd += ["-Xlog:disable", "-Xlog:all=error:stderr"]
    archive = os.path.join(BENCH, "target", "cds.jsa")
    dump = f"{archive}.{os.getpid()}.tmp"
    if os.path.exists(archive):
        cmd += [f"-XX:SharedArchiveFile={archive}"]
    else:
        cmd += [f"-XX:ArchiveClassesAtExit={dump}"]
    cmd += ["-cp", f"{JAR}{os.pathsep}{os.path.join(spark_home, 'jars', '*')}",
            "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--scratch", os.path.join(scratch, "work")]
    # the benchmark data lives in the scratch directory (inside
    # perfbench/.run), so nothing is read or written outside the checkout
    proc = subprocess.Popen(cmd, cwd=scratch, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(scratch, ignore_errors=True)
        if os.path.exists(dump):
            os.remove(dump)
        sys.exit(f"[perfbench] run exceeded {RUN_TIMEOUT_S} s")
    shutil.rmtree(scratch, ignore_errors=True)
    if os.path.exists(dump):
        if proc.returncode == 0:
            os.replace(dump, archive)
        else:
            os.remove(dump)
    lines = [l for l in out.splitlines() if l.strip()]
    if not lines or not lines[-1].startswith("{"):
        for l in lines[-5:]:
            log(l)
        sys.exit(proc.returncode or 1)
    # a run whose checks failed prints its result with "correct": false
    # and exits non-zero
    print(lines[-1], flush=True)
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
