"""Build file of the benchmark: compiles graft and the benchmark program.

Two scalac passes, with the Spark distribution's jars (which carry the Scala
2.13 compiler and library) on the classpath:

1. the engine, `src/main/scala` of the checkout -> `.bench_build/main.jar`;
2. the benchmark program, `perfbench/src` -> `.bench_build/bench.jar`.

Each pass is skipped when a stamp file records the hash of its sources. The
classes go into jars, not directories, so that the JVM can keep a class-data
sharing archive of them (`CDS_ARCHIVE`, written by the first run after a
build; see run.py), which takes several seconds off every later JVM start.

    python3 perfbench/build.py        # prints the run classpath
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CDS_ARCHIVE = os.path.join(BUILD, "classes.jsa")


def spark_jars():
    """Classpath entry for the jars of a Spark distribution that ships the
    Scala compiler: `$SPARK_HOME`, else the first one with a `spark-submit`
    on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(
            os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return os.path.join(jars, "*")
    raise SystemExit("no Spark distribution with a Scala compiler found "
                     "(set SPARK_HOME)")


def sources(src_dir):
    out = []
    for base, _, files in os.walk(src_dir):
        out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def _stamp(files, classpath):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update(classpath.encode())
    return h.hexdigest()


def compile_dir(name, src_dir, classpath):
    """Compile every .scala file under `src_dir` into a jar; returns it."""
    files = sources(src_dir)
    if not files:
        raise SystemExit(f"no Scala sources under {src_dir}")
    jar = os.path.join(BUILD, name + ".jar")
    stamp_file = jar + ".stamp"
    stamp = _stamp(files, classpath)
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return jar
    # The archive describes the old jars.
    if os.path.exists(CDS_ARCHIVE):
        os.remove(CDS_ARCHIVE)
    out = os.path.join(BUILD, "classes", name)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", classpath,
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-classpath", classpath] + files
    print(f"[build] scalac {name}: {len(files)} files", file=sys.stderr)
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        raise SystemExit(f"[build] scalac {name} failed")
    with zipfile.ZipFile(jar, "w") as z:
        for base, _, names in os.walk(out):
            for f in sorted(names):
                path = os.path.join(base, f)
                z.write(path, os.path.relpath(path, out))
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return jar


def build():
    """Compile engine and benchmark if needed; returns the run classpath."""
    engine_src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine_src):
        raise SystemExit(f"engine sources not found at {engine_src}")
    jars = spark_jars()
    main = compile_dir("main", engine_src, jars)
    bench = compile_dir("bench", os.path.join(HERE, "src"), f"{jars}:{main}")
    return f"{bench}:{main}:{jars}"


if __name__ == "__main__":
    print(build())
