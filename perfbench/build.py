"""Build file of the benchmark: compiles the engine's sources together with
the harness into one class directory, using the Scala compiler that ships
with the Spark jars. Rebuilds only when a source file changed.

    python3 perfbench/build.py            # prints the class directory
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(HERE, "harness")
SCALA = "2.13.17"


def build_dir():
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR")
                           or os.path.join(ROOT, ".bench_build"))


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the sbt build names."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("set SPARK_HOME: build.sbt names no jar directory")
    return m.group(1)


def sources():
    engine = sorted(glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"),
                              recursive=True))
    if not engine:
        raise SystemExit(f"no engine sources under {ENGINE_SRC}")
    return engine + sorted(glob.glob(os.path.join(HARNESS_SRC, "*.scala")))


def classpath(classes):
    return f"{classes}{os.pathsep}{os.path.join(spark_jars(), '*')}"


def build():
    """Compile if needed; returns the class directory."""
    srcs = sources()
    digest = hashlib.sha256()
    for p in srcs:
        digest.update(p.encode())
        with open(p, "rb") as f:
            digest.update(f.read())
    out = os.path.join(build_dir(), "classes")
    stamp = os.path.join(build_dir(), "classes.sha256")
    if os.path.exists(stamp) and open(stamp).read() == digest.hexdigest():
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    jars = spark_jars()
    compiler = os.pathsep.join(os.path.join(jars, f"scala-{m}-{SCALA}.jar")
                               for m in ("compiler", "library", "reflect"))
    argfile = os.path.join(build_dir(), "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    tmp = os.path.join(build_dir(), "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-cp", os.path.join(jars, "*"), f"@{argfile}"]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("build failed")
    with open(stamp, "w") as f:
        f.write(digest.hexdigest())
    return out


if __name__ == "__main__":
    print(build())
