"""Build file of the benchmark: compiles the program (`src/main/scala`) and
the benchmark harness (`perfbench/src`) with the Scala compiler that ships
among Spark's jars, so no build tool or network is needed.

Classes go to `<build dir>/classes`; a stamp of every source and of the jar
list skips the build when nothing changed.
"""
import glob
import hashlib
import os
import shutil
import subprocess

HERE = os.path.dirname(os.path.abspath(__file__))


class BuildError(Exception):
    pass


def spark_jars():
    """Directory of Spark's jars: `$SPARK_HOME/jars`, else next to spark-submit."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    exe = shutil.which("spark-submit")
    if exe:
        candidates.append(os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(exe))), "jars"))
    for c in candidates:
        if glob.glob(os.path.join(c, "scala-compiler-*.jar")):
            return c
    raise BuildError("no Spark jars with a Scala compiler found; set SPARK_HOME")


def _sources(root):
    return sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))


def _scalac(jars, classpath, out, files):
    os.makedirs(out, exist_ok=True)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath, "-d", out, "@" + argfile]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])


def build(repo_root, build_dir):
    """Compile if needed; return the runtime classpath."""
    program = _sources(os.path.join(repo_root, "src", "main", "scala"))
    if not program:
        raise BuildError("no program sources under src/main/scala")
    bench = _sources(os.path.join(HERE, "src"))
    jars = spark_jars()
    h = hashlib.sha256()
    for path in program + bench:
        h.update(os.path.relpath(path, repo_root).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()

    classes = os.path.join(build_dir, "classes")
    prog_out = os.path.join(classes, "program")
    bench_out = os.path.join(classes, "bench")
    stamp_file = os.path.join(classes, "STAMP")
    spark_cp = os.path.join(jars, "*")
    classpath = os.pathsep.join([bench_out, prog_out, spark_cp])
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classpath
    shutil.rmtree(classes, ignore_errors=True)
    _scalac(jars, spark_cp, prog_out, program)
    _scalac(jars, os.pathsep.join([prog_out, spark_cp]), bench_out, bench)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath
