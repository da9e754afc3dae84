"""Build file of the benchmark package.

Compiles the program (src/main/scala, the sources build.sbt compiles) and
then the benchmark (perfbench/src) with the Scala compiler that ships in
the Spark distribution, against the Spark jars build.sbt also uses. Output
goes under .bench_build/ in the checkout; a source digest skips a compile
whose inputs have not changed.

    python3 perfbench/build.py        # prints the run classpath
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
SPARK_HOME = os.environ.get("SPARK_HOME", "/opt/spark")
JARS = os.path.join(SPARK_HOME, "jars")
BUILD_DIR = ".bench_build"


class BuildError(Exception):
    pass


def scala_sources(root):
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(paths, salt=""):
    h = hashlib.sha256(salt.encode())
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def compiler_jar(name):
    hits = sorted(f for f in os.listdir(JARS) if f.startswith(name + "-") and f.endswith(".jar"))
    if not hits:
        raise BuildError(f"no {name} jar in {JARS}")
    return os.path.join(JARS, hits[-1])


def compile_scala(sources, out, classpath, key):
    stamp = out + ".stamp"
    if os.path.isdir(out) and os.path.exists(stamp) and open(stamp).read() == key:
        return
    if not sources:
        raise BuildError(f"nothing to compile for {out}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    compiler_cp = os.pathsep.join(compiler_jar(n) for n in
                                  ("scala-compiler", "scala-library", "scala-reflect"))
    argfile = out + ".sources"
    with open(argfile, "w") as f:
        f.write("\n".join(sources) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", compiler_cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", classpath, "@" + argfile]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        raise BuildError(f"compiling {out} failed:\n{proc.stdout[-4000:]}")
    with open(stamp, "w") as f:
        f.write(key)


def build(repo):
    """Compile what changed; return the classpath to run the benchmark."""
    program_src = os.path.join(repo, "src", "main", "scala")
    build_sbt = os.path.join(repo, "build.sbt")
    if not os.path.isdir(program_src) or not os.path.isfile(build_sbt):
        raise BuildError(f"no program sources under {repo} (src/main/scala, build.sbt)")
    if not os.path.isdir(JARS):
        raise BuildError(f"Spark jars not found at {JARS}")
    spark_cp = os.path.join(JARS, "*")
    root = os.path.join(repo, BUILD_DIR)
    program_out = os.path.join(root, "program")
    bench_out = os.path.join(root, "bench")
    program_files = scala_sources(program_src)
    program_key = digest(program_files + [build_sbt])
    compile_scala(program_files, program_out, spark_cp, program_key)
    bench_files = scala_sources(os.path.join(HERE, "src"))
    compile_scala(bench_files, bench_out, os.pathsep.join([program_out, spark_cp]),
                  digest(bench_files, program_key))
    return os.pathsep.join([bench_out, program_out, spark_cp])


if __name__ == "__main__":
    try:
        print(build(os.getcwd()))
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
