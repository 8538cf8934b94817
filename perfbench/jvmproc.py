"""Build the library and the benchmark's JVM package, and launch JVMs.

Everything a run writes goes under `.bench_build/` at the checkout root
(sbt's own `target/` directories aside).
"""
import hashlib
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build")
JVM_DIR = os.path.join(HERE, "jvm")
CLASSPATH_FILE = os.path.join(WORK, "classpath.txt")
STAMP_FILE = os.path.join(WORK, "classpath.stamp")

# What `java` needs to host a SparkSession outside spark-submit on JDK 17;
# the same list the library's build passes to forked runs.
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]
HEAP = "2g"


def cpus():
    return len(os.sched_getaffinity(0))


def _source_stamp():
    """Hash of every input of the build, so a changed checkout rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(JVM_DIR, "src"),
             os.path.join(ROOT, "build.sbt"), os.path.join(JVM_DIR, "build.sbt")]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the library (its own build) and the benchmark package with
    sbt, once per source state; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")) or \
            not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        sys.exit("perfbench: no library sources next to the benchmark "
                 "(expected src/main/scala and build.sbt at the checkout root)")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        sys.exit("perfbench: sbt and java are required")
    os.makedirs(WORK, exist_ok=True)
    stamp = _source_stamp()
    if os.path.exists(CLASSPATH_FILE) and os.path.exists(STAMP_FILE):
        with open(STAMP_FILE) as f:
            if f.read() == stamp:
                with open(CLASSPATH_FILE) as g:
                    return g.read().strip()
    t0 = time.time()
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=JVM_DIR, env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=850)
    lines = [ln for ln in proc.stdout.splitlines()
             if ln.startswith(os.sep) and "classes" in ln and ":" in ln]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        sys.exit(f"perfbench: build failed (sbt exit {proc.returncode})")
    cp = lines[-1].strip()
    with open(CLASSPATH_FILE, "w") as f:
        f.write(cp)
    with open(STAMP_FILE, "w") as f:
        f.write(stamp)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return cp


def java_cmd(classpath, main, args, heap=HEAP):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    return (["java", *ADD_OPENS, f"-Xmx{heap}", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={tmp}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-cp", classpath, main] + list(args))


def jvm_env():
    """Environment of every benchmark JVM: all cores, scratch inside the
    checkout."""
    local = os.path.join(WORK, "spark-local")
    os.makedirs(local, exist_ok=True)
    return dict(os.environ, SPARK_GRAFT_CPUS=str(cpus()), SPARK_LOCAL_DIRS=local)


def run_dir():
    """Working directory of the JVMs (Spark drops spark-warehouse there)."""
    d = os.path.join(WORK, "run")
    os.makedirs(d, exist_ok=True)
    return d


def stop(proc, grace=10):
    if proc is None or proc.poll() is not None:
        return
    proc.terminate()
    try:
        proc.wait(grace)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
