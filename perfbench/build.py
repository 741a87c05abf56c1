"""Build file of the benchmark package: compiles graft and the benchmark harness.

Two stages, each skipped when its sources are unchanged:
  1. graft's own sources (`src/main/scala` of the repository root), as shipped;
  2. the harness in `perfbench/src`, against stage 1.

The compiler is the Scala 2.13 compiler that ships inside the Spark
distribution the project builds against (the same jar directory the root
`build.sbt` names as `unmanagedBase`), so the build needs no dependency
resolution and writes nothing outside the build directory.

Usage: python3 perfbench/build.py   (prints the runtime classpath)
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
BUILD_DIR = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


class BuildError(Exception):
    pass


def spark_jars():
    """Directory of the Spark jars: $SPARK_HOME/jars, else the root build's unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise BuildError("no Spark distribution found (set SPARK_HOME)")


def sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def compile_stage(name, srcs, classpath, jars):
    out = os.path.join(BUILD_DIR, name)
    stamp = out + ".sha256"
    key = digest(srcs, classpath)
    if os.path.isfile(stamp) and open(stamp).read() == key:
        return out
    if not srcs:
        raise BuildError(f"stage {name}: no Scala sources found")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    found = glob.glob(os.path.join(jars, "scala-compiler-*.jar"))
    if not found:
        raise BuildError("no scala-compiler jar in the Spark distribution")
    ver = re.search(r"scala-compiler-(.+)\.jar", found[0]).group(1)
    compiler = ":".join(os.path.join(jars, f"scala-{p}-{ver}.jar")
                        for p in ("compiler", "library", "reflect"))
    argfile = out + ".args"
    with open(argfile, "w") as fh:
        fh.write("\n".join(["-d", out, "-classpath", classpath, "-nowarn",
                            "-encoding", "UTF-8"] + srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={BUILD_DIR}", "-cp", compiler,
           "scala.tools.nsc.Main", "@" + argfile]
    if subprocess.run(cmd, cwd=ROOT).returncode != 0:
        raise BuildError(f"stage {name}: compilation failed")
    with open(stamp, "w") as fh:
        fh.write(key)
    return out


def build():
    """Compile both stages if needed; return (runtime classpath, source digest)."""
    os.makedirs(BUILD_DIR, exist_ok=True)
    jars = spark_jars()
    jar_cp = os.path.join(jars, "*")
    graft_srcs = sources(os.path.join(ROOT, "src", "main", "scala"))
    bench_srcs = sources(os.path.join(HERE, "src"))
    graft_out = compile_stage("graft-classes", graft_srcs, jar_cp, jars)
    bench_out = compile_stage("perfbench-classes", bench_srcs,
                              graft_out + ":" + jar_cp, jars)
    return ":".join([bench_out, graft_out, jar_cp]), digest(graft_srcs + bench_srcs)


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
