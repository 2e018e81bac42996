"""Build file of the benchmark: compiles the repository's main sources
together with the benchmark harness (benchmark/src) into one class
directory, with the same Scala compiler and Spark jars the repository's
build.sbt uses: the Spark distribution's jars directory, $SPARK_HOME/jars,
or without SPARK_HOME the jars of the installed pyspark (the same Spark
release). Output goes under .bench_build/ in the
checkout, keyed by a hash of every input, so an unchanged tree is not
rebuilt.

Usage: python3 benchmark/build.py   (from the repository root)
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        import pyspark
        home = os.path.dirname(pyspark.__file__)
    return os.path.join(home, "jars")


def sources(root):
    out = []
    for base in (os.path.join(root, "src", "main", "scala"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(root):
    """Compile if needed; return the class directory."""
    srcs = sources(root)
    resources = os.path.join(root, "src", "main", "resources")
    h = hashlib.sha256()
    for p in srcs + [resources]:
        h.update(os.path.relpath(p, root).encode())
        if os.path.isfile(p):
            with open(p, "rb") as f:
                h.update(f.read())
    for d, _, files in os.walk(resources):
        for f in sorted(files):
            with open(os.path.join(d, f), "rb") as fh:
                h.update(fh.read())
    out = os.path.join(root, ".bench_build", "classes-" + h.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(spark_jars(), "*")
    argfile = tmp + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    try:
        subprocess.run(
            ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
             "-nowarn", "-release", "17", "-d", tmp, "-cp", cp, "@" + argfile],
            check=True, stdout=sys.stderr)
    finally:
        os.remove(argfile)
    if os.path.isdir(resources):
        shutil.copytree(resources, tmp, dirs_exist_ok=True)
    os.replace(tmp, out)
    return out


if __name__ == "__main__":
    print(build(os.getcwd()))
