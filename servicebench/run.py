#!/usr/bin/env python3
"""Service benchmark: CSV uploads through UploadService and an analyst
query mix, streaming-state queries included, through SparkEntry.queries,
with checked outputs.

Usage (from the root of a checkout):
  python3 servicebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
  python3 servicebench/run.py --selftest

Workloads: upload_burst, analyst_mix. The first run in a
checkout compiles the program (src/main/scala) together with the harness
(servicebench/harness) against the Spark jars into servicebench/.build, and
checks every query of queries.txt against DuckDB (graft.Verify, then
tools/check.py); later runs reuse both while the sources are unchanged.
The last line of standard output is one JSON object: correct, attempted,
failed, metrics. With --trace 1 the run also writes its spans to
servicebench/traces/.

The program hard-codes the directory it expects its checkout in
(Streaming.ScratchRoot and the streaming CSV source live under it). When
the checkout is elsewhere, the harness JVM runs in a private mount
namespace in which that directory is the checkout, so every read and
write stays inside the checkout. One invocation at a time holds the
checkout's lock, so two runs never share the streaming scratch directory.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.realpath(os.path.dirname(HERE))
BUILD = os.path.join(HERE, ".build")
HARNESS_JAR = os.path.join(BUILD, "harness.jar")
ARCHIVE = os.path.join(BUILD, "classes.jsa")
WORK = os.path.join(HERE, "work")
RUN_TIMEOUT_S = 170
WORKLOADS = ("upload_burst", "analyst_mix")

# Spark 4 on JDK 17 outside spark-submit needs these (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

# Runs "$@" in a private mount namespace in which <parent>/<name> is the
# checkout <root>: a small tmpfs <t> (inside the checkout) gets one bind
# mount per entry of <parent> except <name> and the entries holding the
# checkout, plus <name> bound to the checkout, and is then bound over
# <parent>. Nothing is written outside the checkout; the mounts end with
# the process.
NS_SCRIPT = r"""
set -e
t=$1 parent=$2 name=$3 root=$4
shift 4
mount -t tmpfs -o size=1m,mode=755 servicebench "$t"
for e in "$parent"/* "$parent"/.[!.]* "$parent"/..?*; do
  [ -e "$e" ] || continue
  n=${e##*/}
  [ "$n" = "$name" ] && continue
  case "$root/" in "$e"/*) continue ;; esac
  if [ -d "$e" ]; then mkdir "$t/$n"; else : > "$t/$n"; fi
  mount --rbind "$e" "$t/$n"
done
mkdir "$t/$name"
mount --bind "$root" "$t/$name"
mount --rbind "$t" "$parent"
cd "$parent/$name"
exec "$@"
"""


def die(msg):
    print(f"servicebench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark jars the sbt build compiles against (build.sbt's
    unmanagedBase), or $SPARK_HOME/jars."""
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if m:
        return m.group(1)
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    die("cannot find the Spark jars: no unmanagedBase in build.sbt and no SPARK_HOME")


def program_root():
    """The absolute checkout path the program hard-codes, read from
    Streaming.ScratchRoot (<checkout>/target/stream), or None when the
    program names no such path."""
    try:
        with open(os.path.join(ROOT, "src/main/scala/graft/ops/Streaming.scala")) as f:
            m = re.search(r'val ScratchRoot = "(/[^"]+)/target/stream"', f.read())
    except OSError:
        return None
    return m.group(1) if m else None


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "harness/*.scala")))
    if not prog:
        die(f"no program sources under {ROOT}/src/main/scala")
    if not harness:
        die("no harness sources")
    return prog + harness


def build():
    """Compile program + harness and DuckDB-check the queries, once per
    distinct source set. The caller holds the checkout's lock."""
    srcs = sources()
    jars_dir = spark_jars()
    jars = sorted(glob.glob(os.path.join(jars_dir, "*.jar")))
    if not jars:
        die(f"no Spark jars under {jars_dir}")
    # run.py too: the class-data archive holds only for the JVM options
    # it was dumped with
    inputs = srcs + [os.path.join(HERE, "queries.txt"), os.path.abspath(__file__)] + \
        sorted(glob.glob(os.path.join(HERE, "data/*/*.parquet")))
    h = hashlib.sha256()
    for p in inputs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\n".join(jars).encode())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(HARNESS_JAR) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    tmp = os.path.join(BUILD, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars_dir, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-cp", cp] + srcs
    if run_child(cmd, 600, sys.stderr)[0] != 0:
        die("build failed")
    # one jar, so that the class-data archive below can cover the harness
    # and the program too
    with zipfile.ZipFile(HARNESS_JAR + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for d, _, files in sorted(os.walk(tmp)):
            for f in sorted(files):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, tmp))
    shutil.rmtree(tmp)
    os.replace(HARNESS_JAR + ".tmp", HARNESS_JAR)
    # DuckDB check of every query, once per build: later runs compare each
    # result's fingerprint with the checked one. The check's JVM also dumps
    # the classes it loaded to a class-data archive that later runs map in,
    # which shortens every run's cold start.
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    r = run_harness(["--reference"], timeout=600, dump=True)
    if r.returncode != 0:
        die("reference check of the queries failed to run")
    with open(stamp_file, "w") as f:
        f.write(stamp)


def harness_argv(args, dump):
    """The harness command. Paths in it are the ones the JVM sees."""
    prog = program_root()
    mapped = prog is not None and prog != ROOT
    root = prog if mapped else ROOT

    def seen(p):
        return os.path.join(root, os.path.relpath(p, ROOT))
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # an explicit, sorted class path: the archive is only used with the
    # class path it was dumped with
    cp = [seen(HARNESS_JAR)] + sorted(glob.glob(os.path.join(spark_jars(), "*.jar")))
    if dump:
        cds = [f"-XX:ArchiveClassesAtExit={seen(ARCHIVE)}"]
    elif os.path.exists(ARCHIVE):
        cds = [f"-XX:SharedArchiveFile={seen(ARCHIVE)}"]
    else:
        cds = []
    java = ["java"] + opens + cds + [
        "-Xlog:cds=off", "-Xlog:cds+dynamic=off",
        # -Xmx only: the heap grows as the program needs it, so VmHWM
        # follows the program
        "-Xmx2g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
        # JIT threads stay alive, so their CPU time can be told apart
        "-XX:-UseDynamicNumberOfCompilerThreads",
        # C1 only: the program makes new classes for each query and upload,
        # which kept the C2 compiler busy on about 1.3 of 4 cores for the
        # whole run, and the run-to-run spread followed its progress
        "-XX:TieredStopAtLevel=1",
        f"-Djava.io.tmpdir={seen(os.path.join(WORK, 'tmp'))}", "-Dspark.ui.enabled=false",
        "-cp", os.pathsep.join(cp),
        "servicebench.Main", "--root", root, "--work", seen(WORK)] + args
    if not mapped:
        return java
    if shutil.which("unshare") is None:
        die(f"the program expects its checkout at {prog}; running it from {ROOT} "
            "needs unshare(1) for a private mount namespace")
    ns = os.path.join(WORK, "ns")
    os.makedirs(ns, exist_ok=True)
    return ["unshare", "--mount", "--propagation", "private", "sh", "-c", NS_SCRIPT,
            "servicebench-ns", ns, os.path.dirname(prog), os.path.basename(prog),
            ROOT] + java


def run_harness(args, timeout, dump=False):
    """Run the harness JVM in a fresh work directory; stdout is captured."""
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    try:
        code, out = run_child(harness_argv(args, dump), timeout, subprocess.PIPE)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    return subprocess.CompletedProcess(args, code, out, None)


CHILDREN = set()


def run_child(cmd, timeout, stdout):
    """Run cmd in its own process group, so that a timeout or a signal to
    this script also stops whatever it started (the harness JVM starts
    tools/check.py). Returns the exit code and the captured stdout."""
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=stdout, stderr=sys.stderr, text=True,
                         start_new_session=True)
    CHILDREN.add(p)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        stop_children()
        die(f"{cmd[0]} exceeded {timeout} s")
    finally:
        CHILDREN.discard(p)
    return p.returncode, out


def stop_children(*_):
    for p in list(CHILDREN):
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
    if _:
        die("stopped by a signal")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, stop_children)
    signal.signal(signal.SIGINT, stop_children)
    if not a.selftest and a.workload not in WORKLOADS:
        die(f"unknown workload {a.workload!r}")
    if not os.path.exists(os.path.join(ROOT, "tools/check.py")):
        die("tools/check.py is missing")
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        build()
        args = ["--selftest"] if a.selftest else [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace)]
        r = run_harness(args, 900 if a.selftest else RUN_TIMEOUT_S)
    if a.selftest:
        sys.stdout.write(r.stdout)
        sys.exit(r.returncode)
    lines = [ln for ln in r.stdout.splitlines() if ln.strip()]
    if r.returncode != 0 or not lines:
        die(f"harness exited with code {r.returncode}")
    try:
        res = json.loads(lines[-1])
    except json.JSONDecodeError:
        die("harness printed no result")
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        die("malformed result")
    print(json.dumps(res))


if __name__ == "__main__":
    main()
