"""Build file of the benchmark: compiles the engine's sources
(src/main/scala) and the benchmark's own (linkbench/src/main/scala) into one
class directory with the Scala compiler that ships in Spark's jars, the same
jars the sbt build compiles against. Rebuilds only when a source changed.

    python3 linkbench/build.py     # from the repository root
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

# What spark-submit passes to a JDK 17 Spark application (JavaModuleOptions).
ADD_OPENS = [x for p in [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
] for x in ("--add-opens", p + "=ALL-UNNAMED")]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            sys.exit("linkbench: set SPARK_HOME (Spark 4.1 jars are needed)")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        sys.exit("linkbench: no Scala compiler in %s" % jars)
    return jars


def sources(root):
    out = []
    for d in ("src/main/scala", "linkbench/src/main/scala"):
        out += glob.glob(os.path.join(root, d, "**", "*.scala"), recursive=True)
    return sorted(out)


def ensure_built(root, build_dir):
    """Returns the run classpath, compiling first if any source changed."""
    jars = os.path.join(spark_jars(), "*")
    srcs = sources(root)
    h = hashlib.sha256(jars.encode())
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp_file = classes + ".stamp"
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return classes + os.pathsep + jars

    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cores = len(os.sched_getaffinity(0))
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars,
         "scala.tools.nsc.Main",
         "-nowarn", "-Ybackend-parallelism", str(min(cores, 8)),
         "-d", classes, "-classpath", jars, "@" + argfile],
        stdout=sys.stderr)
    if r.returncode != 0:
        sys.exit("linkbench: compile failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes + os.pathsep + jars


if __name__ == "__main__":
    here = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(here)
    print(ensure_built(root, os.path.join(root, ".bench_build", "linkbench")))
