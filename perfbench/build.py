"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark harness (perfbench/scala) into .bench_build/ with the Scala
compiler that ships among the Spark jars. A build is skipped when the
sources it would compile are unchanged since the last one.

Usage: python3 perfbench/build.py   (run.py calls it before every run)
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "scala")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("perfbench: set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        raise SystemExit(f"perfbench: no Spark jars under {home}")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def sources(root):
    found = []
    for d, _, files in os.walk(root):
        found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def compile_tree(name, files, classpath, depends=""):
    """Compiles `files` into .bench_build/<name> unless they, the classpath
    and the key of what they depend on are unchanged. Returns (dir, key)."""
    out = os.path.join(OUT, name)
    stamp = os.path.join(OUT, name + ".sha256")
    key = "\n".join([digest(files), classpath, depends])
    if os.path.isfile(stamp) and open(stamp).read() == key:
        return out, key
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    jars = spark_jars()
    compiler = os.pathsep.join(sorted(
        os.path.join(jars, j) for j in os.listdir(jars)
        if j.startswith(("scala-compiler-", "scala-library-", "scala-reflect-"))))
    print(f"perfbench: compiling {len(files)} files into {out}", file=sys.stderr)
    subprocess.run([java(), "-Xss16m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
                    "-nowarn", "-cp", classpath, "-d", out] + files, check=True)
    with open(stamp, "w") as fh:
        fh.write(key)
    return out, key


def build():
    """Returns the run-time classpath: engine classes, harness classes, Spark jars."""
    engine = sources(ENGINE_SRC)
    if not engine:
        raise SystemExit(f"perfbench: no engine sources under {ENGINE_SRC}")
    jars = os.path.join(spark_jars(), "*")
    engine_out, engine_key = compile_tree("engine", engine, jars)
    bench_out, _ = compile_tree("bench", sources(BENCH_SRC),
                                os.pathsep.join([engine_out, jars]), engine_key)
    return os.pathsep.join([engine_out, bench_out, jars])


if __name__ == "__main__":
    print(build())
