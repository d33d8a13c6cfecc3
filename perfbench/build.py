"""Build file of the benchmark: compiles the program (src/main/scala)
together with the benchmark harness (perfbench/src) into
.bench_build/classes-<hash of the sources>, with the Scala compiler
that ships in the Spark distribution's jars. An unchanged tree reuses
its classes. Usage: python3 perfbench/build.py (from the repo root).
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys


def spark_home():
    """$SPARK_HOME, else the first Spark distribution on PATH: a
    spark-submit with the distribution's jars beside its bin directory."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
        if os.path.isfile(submit) and glob.glob(os.path.join(home, "jars", "spark-core_*.jar")):
            return home
    raise RuntimeError("no Spark distribution: set SPARK_HOME or put its spark-submit on PATH")


def spark_jars():
    """Classpath entry for every jar of the Spark distribution."""
    return os.path.join(spark_home(), "jars", "*")


def sources(root):
    program = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not program:
        raise RuntimeError(f"no program sources under {root}/src/main/scala")
    harness = sorted(glob.glob(os.path.join(root, "perfbench/src/**/*.scala"), recursive=True))
    return program + harness


def build(root, log=sys.stderr):
    """Return the classes directory for the current sources, compiling if needed."""
    srcs = sources(root)
    h = hashlib.sha256()
    for path in srcs:
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    jars = spark_jars()
    h.update("\n".join(sorted(os.listdir(os.path.dirname(jars)))).encode())
    out = os.path.join(root, ".bench_build", "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".complete")):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(tmp, ".sources")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    print(f"[build] compiling {len(srcs)} sources -> {out}", file=log, flush=True)
    try:
        subprocess.run(
            ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
             "-nowarn", "-d", tmp, "-classpath", jars, "@" + argfile],
            check=True, stdout=log, stderr=log, timeout=800)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    os.remove(argfile)
    open(os.path.join(tmp, ".complete"), "w").close()
    if os.path.exists(out):
        shutil.rmtree(tmp)
    else:
        os.rename(tmp, out)
    return out


if __name__ == "__main__":
    print(build(os.getcwd()))
