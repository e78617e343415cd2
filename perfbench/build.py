"""Build file of the benchmark: compiles the engine and the benchmark code.

The engine (`src/main/scala`) and the benchmark (`perfbench/src`) are compiled
with the Scala compiler that ships in the Spark distribution's `jars`
directory, straight into `.bench_build/` under the checkout. Nothing is
downloaded and nothing is written outside the checkout. Each half is
recompiled only when the hash of its sources changes.

    python3 perfbench/build.py        # build, print the classpath
"""

import hashlib
import os
import re
import subprocess
import sys

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else the project's own
    `unmanagedBase` from build.sbt (the directory sbt compiles against)."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise BuildError("no Spark jars: set SPARK_HOME")


def jar_classpath():
    d = spark_jars()
    jars = sorted(os.path.join(d, j) for j in os.listdir(d) if j.endswith(".jar"))
    if not any(os.path.basename(j).startswith("scala-compiler") for j in jars):
        raise BuildError(f"no scala-compiler jar in {d}")
    return jars


def sources(root, exts=(".scala", ".java")):
    out = []
    for d, _, files in os.walk(root):
        out.extend(os.path.join(d, f) for f in files if f.endswith(exts))
    return sorted(out)


def digest(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def compile_into(name, srcs, classpath, jars):
    """Compile `srcs` into .bench_build/<name> unless its stamp matches."""
    out = os.path.join(BUILD, name)
    stamp = os.path.join(BUILD, name + ".stamp")
    want = digest(srcs, os.pathsep.join(classpath))
    if os.path.exists(stamp) and os.path.isdir(out):
        with open(stamp) as f:
            if f.read() == want:
                return out
    if not srcs:
        raise BuildError(f"no sources for {name}")
    subprocess.run(["rm", "-rf", out], check=True)
    os.makedirs(out)
    args = os.path.join(BUILD, name + ".args")
    with open(args, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(jars),
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-classpath", os.pathsep.join(classpath), "@" + args]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise BuildError(f"compiling {name} failed")
    with open(stamp, "w") as f:
        f.write(want)
    return out


def build():
    """Compile what changed; return the runtime classpath entries."""
    if not os.path.isdir(ENGINE_SRC):
        raise BuildError(f"engine sources not found under {ROOT}")
    os.makedirs(BUILD, exist_ok=True)
    jars = jar_classpath()
    engine = compile_into("engine", sources(ENGINE_SRC), jars, jars)
    bench = compile_into("bench", sources(BENCH_SRC), [engine] + jars, jars)
    res = [ENGINE_RES] if os.path.isdir(ENGINE_RES) else []
    return [bench, engine] + res + jars


if __name__ == "__main__":
    try:
        print(os.pathsep.join(build()))
    except BuildError as e:
        sys.exit(f"build: {e}")
