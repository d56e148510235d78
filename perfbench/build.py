"""Build file of the benchmark package.

Compiles graft (`src/main/scala`) and then the benchmark's own Scala
sources (`perfbench/src`) with the Scala compiler that ships among
Spark's jars, into two jars under `.bench_build/` at the repository
root. Then it records a class-data sharing archive of the classes a run
loads (`perfbench.Warm`), which every run maps instead of loading those
classes from the jars: it halves the time a JVM takes to start its
SparkSession, and changes no code the runs measure. Each stage is
skipped when a digest of its inputs is unchanged. Spark is found through
`SPARK_HOME`, or else through `spark-submit` on the PATH.

    python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")


ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
ARCHIVE = os.path.join(OUT, "classes.jsa")


class BuildError(Exception):
    pass


def java_cmd(classpath, tmp, archive_flag):
    """The JVM command line of a run, up to its main class."""
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp, archive_flag]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    return cmd + ["-cp", os.pathsep.join(classpath)]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise BuildError("Spark jars not found: set SPARK_HOME or put spark-submit on the PATH")
    return jars


def scala_sources(root):
    found = []
    for d, _, files in os.walk(root):
        found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def digest(files, salt):
    h = hashlib.sha256(salt.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def compile_stage(name, sources, jars, extra_cp, salt):
    out = os.path.join(OUT, name + ".jar")
    stamp = out + ".stamp"
    key = digest(sources, salt)
    if os.path.exists(stamp) and open(stamp).read() == key:
        return out, key
    if os.path.exists(out):
        os.remove(out)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + OUT, "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out]
    if extra_cp:
        cmd += ["-classpath", os.pathsep.join(extra_cp)]
    print(f"[perfbench] compiling {name}: {len(sources)} files", file=sys.stderr)
    if subprocess.run(cmd + sources, stdout=sys.stderr).returncode != 0:
        raise BuildError(f"compiling {name} failed")
    with open(stamp, "w") as fh:
        fh.write(key)
    return out, key


def build():
    """Return the run classpath, compiling what changed."""
    graft_sources = scala_sources(GRAFT_SRC)
    if not graft_sources:
        raise BuildError(f"no graft sources under {os.path.relpath(GRAFT_SRC, ROOT)}")
    jars = spark_jars()
    os.makedirs(OUT, exist_ok=True)
    graft, key = compile_stage("graft", graft_sources, jars, [], jars)
    bench, key = compile_stage("bench", scala_sources(BENCH_SRC), jars, [graft], key)
    classpath = [bench, graft, os.path.join(jars, "*")]
    record_archive(classpath, key)
    return classpath


def record_archive(classpath, key):
    """Write ARCHIVE from one short run of perfbench.Warm, unless it is current."""
    stamp = ARCHIVE + ".stamp"
    if os.path.exists(stamp) and open(stamp).read() == key and os.path.exists(ARCHIVE):
        return
    for f in (ARCHIVE, stamp):
        if os.path.exists(f):
            os.remove(f)
    work = os.path.join(OUT, "warm")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    print("[perfbench] recording the class-data archive", file=sys.stderr)
    try:
        cmd = java_cmd(classpath, work, "-XX:ArchiveClassesAtExit=" + ARCHIVE)
        cmd.insert(1, "-Xlog:cds=off")
        rc = subprocess.run(cmd + ["perfbench.Warm", work], stdout=sys.stderr, cwd=work,
                            timeout=300).returncode
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not os.path.exists(ARCHIVE):
        raise BuildError("recording the class-data archive failed")
    with open(stamp, "w") as fh:
        fh.write(key)


if __name__ == "__main__":
    try:
        print(os.pathsep.join(build()))
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
