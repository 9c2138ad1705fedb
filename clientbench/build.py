"""Build of the benchmark: the engine's sources (`src/main/scala`) and the
benchmark's own (`clientbench/src`) compiled together with the Scala
compiler that ships in Spark's jar directory, into a directory named after
a hash of every source and resource file. An unchanged tree is not
rebuilt.

    python3 clientbench/build.py        # from the repository root
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))


class BuildError(Exception):
    pass


def spark_jars():
    """Jars of the Spark install named by $SPARK_HOME, else of the first
    `spark-submit` on the PATH whose install carries a Scala compiler."""
    homes = [os.environ.get("SPARK_HOME", "")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        if os.path.isfile(submit):
            homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for home in filter(None, homes):
        jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
        if any("scala-compiler" in j for j in jars):
            return jars
    raise BuildError("no Spark install with a Scala compiler in its jars "
                     "(set SPARK_HOME)")


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                        recursive=True))
    if not main:
        raise BuildError(f"no engine sources under {root}/src/main/scala")
    own = sorted(glob.glob(os.path.join(BENCH, "src", "**", "*.scala"), recursive=True))
    return main + own


def resources(root):
    return os.path.join(root, "src", "main", "resources")


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def ensure(root, work):
    """Compile if needed; return the run-time classpath entries."""
    jars = spark_jars()
    srcs = sources(root)
    res = resources(root)
    res_files = sorted(p for p in glob.glob(os.path.join(res, "**", "*"), recursive=True)
                       if os.path.isfile(p))
    classes = os.path.join(work, "classes-" + stamp(srcs + res_files))
    if not os.path.exists(os.path.join(classes, ".done")):
        for old in glob.glob(os.path.join(work, "classes-*")):
            shutil.rmtree(old, ignore_errors=True)
        tmp = classes + ".tmp"
        os.makedirs(tmp)
        argfile = os.path.join(work, "scalac.args")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs))
        cmd = ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(jars),
               "scala.tools.nsc.Main", "-nowarn", "-classpath", os.pathsep.join(jars),
               "-d", tmp, "@" + argfile]
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True, timeout=840)
        if r.returncode != 0:
            raise BuildError("scalac failed:\n" + r.stdout[-4000:])
        open(os.path.join(tmp, ".done"), "w").close()
        os.rename(tmp, classes)
    return [classes, res] + jars


if __name__ == "__main__":
    root = os.getcwd()
    try:
        print(os.pathsep.join(ensure(root, os.path.join(root, ".bench_build"))[:1]))
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(1)
