"""Build file of the benchmark package.

Compiles graft's sources (``src/main/scala`` of the checkout) together with
the harness in ``perfbench/src`` into one class directory, using the Scala
compiler that ships in Spark's ``jars`` directory, so no build tool or
network is needed. The output directory is keyed by a hash of every source
file, so a changed source rebuilds and an unchanged one is reused.
"""
import glob
import hashlib
import os
import shutil
import subprocess

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Spark 4 on JDK 17 needs these when a session is built outside spark-submit.
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")
]


class BuildError(Exception):
    pass


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BuildError("no java found (set JAVA_HOME or put java on PATH)")
    return exe


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise BuildError("Spark not found (set SPARK_HOME)")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise BuildError(f"no Spark jars under {jars}")
    return jars


def sources():
    graft = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                             recursive=True))
    if not graft:
        raise BuildError("graft sources (src/main/scala) not found next to perfbench/")
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return graft + bench


def classpath(classes):
    return os.pathsep.join([classes, os.path.join(spark_jars(), "*")])


def build(out_dir):
    """Returns the class directory for the current sources, compiling if needed."""
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    dest = os.path.join(out_dir, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(dest):
        return dest
    os.makedirs(out_dir, exist_ok=True)
    tmp = f"{dest}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = [os.path.join(jars, n) for n in sorted(os.listdir(jars))
                if n.startswith(("scala-compiler-", "scala-library-", "scala-reflect-"))]
    argfile = tmp + ".args"
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs))
    try:
        r = subprocess.run(
            [java(), "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
             "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
             "-cp", os.path.join(jars, "*"), "@" + argfile],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            raise BuildError("scalac failed:\n" + r.stdout[-4000:])
        os.rename(tmp, dest)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        if os.path.exists(argfile):
            os.remove(argfile)
    return dest
