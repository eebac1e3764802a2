"""Build file of the benchmark: compiles the engine and the benchmark runner.

Compiles `src/main/scala` (the engine, unchanged) and `perfbench/src` (the
runner) with the Scala compiler that ships in Spark's jar directory, into
`.bench_build/classes`. sbt is not used: it would write outside the
checkout and cost tens of seconds on every run. A stamp over the inputs
makes an unchanged tree a no-op.

    python3 perfbench/build.py          # prints the classes directory
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")


def spark_home():
    """SPARK_HOME, or the install that holds `spark-submit` on PATH."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    submit = shutil.which("spark-submit")
    return os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else ""


SPARK_JARS = os.path.join(spark_home(), "jars")
CLASSPATH = f"{SPARK_JARS}/*"


class BuildError(Exception):
    pass


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                              recursive=True))
    if not engine:
        raise BuildError(f"no engine sources under {ROOT}/src/main/scala")
    own = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    return engine + own


def build():
    """Compiles if any input changed; returns the classes directory."""
    if not glob.glob(os.path.join(SPARK_JARS, "scala-compiler-*.jar")):
        raise BuildError(f"no Scala compiler in {SPARK_JARS}")
    srcs = sources()
    h = hashlib.sha256(open(__file__, "rb").read())
    for f in srcs:
        h.update(f.encode())
        h.update(open(f, "rb").read())
    stamp = h.hexdigest()
    out = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(out, "STAMP")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(BUILD, "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", CLASSPATH,
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", CLASSPATH,
           "@" + args_file]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    with open(os.path.join(tmp, "STAMP"), "w") as f:
        f.write(stamp)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"build: {e}")
