"""Build file of the benchmark: compiles the program (src/main) and the
benchmark driver (perfbench/src) with the Scala compiler that ships in the
Spark distribution, packs each into a jar under .bench_build/ at the
repository root, and records a class-data-sharing archive from one short
training run, so each measured JVM starts without re-loading Spark's
classes from scratch.

Every step is skipped when the hash of its inputs matches the last build,
so only the first run in a checkout pays for it.
Usage: python3 perfbench/build.py
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build")
ARCHIVE = os.path.join(OUT, "perfbench.jsa")
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else the directory the
    repository's build.sbt names as its unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    sys.exit("perfbench: no Spark jars found (set SPARK_HOME)")


def sources(*dirs):
    files = []
    for d in dirs:
        files += glob.glob(os.path.join(ROOT, d, "**", "*.scala"), recursive=True)
    return sorted(f for f in files if "/target/" not in f)


def digest(files, salt=""):
    h = hashlib.sha256(salt.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def fresh(stamp_file, stamp):
    return os.path.exists(stamp_file) and open(stamp_file).read() == stamp


def compile_jar(name, files, classpath, stamp, resources=None):
    """Compile `files` into .bench_build/<name>.jar unless up to date."""
    jar = os.path.join(OUT, name + ".jar")
    if fresh(jar + ".sha256", stamp) and os.path.exists(jar):
        return jar
    if not files:
        sys.exit(f"perfbench: no sources for {name}")
    classes = os.path.join(OUT, name)
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    args = os.path.join(OUT, name + ".args")
    with open(args, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", classpath, "scala.tools.nsc.Main",
           "-nowarn", "-cp", classpath, "-d", classes, "@" + args]
    print(f"perfbench: compiling {name} ({len(files)} files)", file=sys.stderr)
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        sys.exit(f"perfbench: {name} failed to compile")
    if resources and os.path.isdir(resources):
        shutil.copytree(resources, classes, dirs_exist_ok=True)
    with zipfile.ZipFile(jar, "w") as z:
        for d, _, fs in sorted(os.walk(classes)):
            for f in sorted(fs):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, classes))
    shutil.rmtree(classes)
    with open(jar + ".sha256", "w") as fh:
        fh.write(stamp)
    return jar


def jvm(classpath, archive=None, dump=None):
    """The JVM command line every run uses (and the training run)."""
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:+UseParallelGC",
           "-Xlog:disable", "-Xlog:all=warning:stderr", "-Dspark.ui.enabled=false"]
    if archive:
        cmd.append(f"-XX:SharedArchiveFile={archive}")
    if dump:
        cmd.append(f"-XX:ArchiveClassesAtExit={dump}")
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", classpath]


def env():
    # Spark looks up Python data sources on first use by starting a Python
    # worker; the program has none, so point the lookup at no interpreter.
    # Local mode binds to the loopback interface only.
    return dict(os.environ, PYSPARK_PYTHON="perfbench-no-python",
                SPARK_LOCAL_IP="127.0.0.1", SPARK_LOCAL_HOSTNAME="localhost")


def train(classpath, stamp):
    """Record the class-data-sharing archive from a short cdc_trickle run;
    without one, runs still work, only their JVM start is slower."""
    if fresh(ARCHIVE + ".sha256", stamp) and os.path.exists(ARCHIVE):
        return ARCHIVE
    out = os.path.join(OUT, "train")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "tmp"))
    print("perfbench: recording the class-data-sharing archive", file=sys.stderr)
    cmd = jvm(classpath, dump=ARCHIVE + ".tmp") + [
        f"-Djava.io.tmpdir={out}/tmp", "perfbench.Main", "--out", out,
        "--cores", str(len(os.sched_getaffinity(0))), "--workload", "cdc_trickle",
        "--seed", "0", "--seconds", "2", "--trace", "0"]
    ok = subprocess.run(cmd, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                        cwd=ROOT, env=env(), timeout=600).returncode == 0
    shutil.rmtree(out, ignore_errors=True)
    if not ok or not os.path.exists(ARCHIVE + ".tmp"):
        print("perfbench: training run failed; running without the archive", file=sys.stderr)
        return None
    os.replace(ARCHIVE + ".tmp", ARCHIVE)
    with open(ARCHIVE + ".sha256", "w") as fh:
        fh.write(stamp)
    return ARCHIVE


def build():
    """Compile and train what changed; return (classpath, archive or None)."""
    jars = os.path.join(spark_jars(), "*")
    os.makedirs(OUT, exist_ok=True)
    prog_src = sources("src/main/scala")
    prog_sha = digest(prog_src)
    prog = compile_jar("program", prog_src, jars, prog_sha,
                       os.path.join(ROOT, "src", "main", "resources"))
    bench_src = sources("perfbench/src")
    bench_sha = digest(bench_src, prog_sha)
    bench = compile_jar("bench", bench_src, os.pathsep.join([prog, jars]), bench_sha)
    classpath = os.pathsep.join([bench, prog, jars])
    return classpath, train(classpath, bench_sha)


if __name__ == "__main__":
    print(build())
