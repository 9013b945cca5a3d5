#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the engine's main sources
(src/main/scala, src/main/java) together with the benchmark harness
(perfbench/src) into one class directory.

There is no standalone scalac, so the Scala compiler is run from the
scala-compiler jar that sits among the Spark jars the engine already links
against: the directory build.sbt names as its unmanaged base (or
$SPARK_HOME/jars). The output is cached under <build dir>/classes-<hash of every source file>, so a
second run in the same checkout reuses it.

Usage: python3 perfbench/build.py [build dir]   (default: .bench_build)
Prints the class directory on success; exits non-zero on any failure.
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
SCALA_VERSION = "2.13.17"


def spark_jars():
    """The Spark jar directory the engine is compiled against."""
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            return m.group(1)
    except OSError:
        pass
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    raise SystemExit("build: no Spark jar directory (build.sbt unmanagedBase or SPARK_HOME)")


def sources():
    out = []
    for base, exts in ((os.path.join(ROOT, "src", "main", "scala"), (".scala",)),
                       (os.path.join(ROOT, "src", "main", "java"), (".java",)),
                       (os.path.join(HERE, "src"), (".scala",))):
        for dirpath, _, files in os.walk(base):
            out += [os.path.join(dirpath, f) for f in files if f.endswith(exts)]
    return sorted(out)


def fingerprint(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def compiler_cp():
    jars = [os.path.join(spark_jars(), f"scala-{m}-{SCALA_VERSION}.jar")
            for m in ("compiler", "library", "reflect")]
    jars += sorted(glob.glob(os.path.join(spark_jars(), "jline-3*.jar")))
    missing = [j for j in jars if not os.path.isfile(j)]
    if missing:
        raise SystemExit(f"build: missing compiler jars: {missing}")
    return os.pathsep.join(jars)


def build(build_dir):
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("build: engine sources (src/main/scala) not found "
                         "beside perfbench/")
    srcs = sources()
    out = os.path.join(build_dir, "classes-" + fingerprint(srcs))
    if os.path.isfile(os.path.join(out, ".complete")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    spark_cp = os.path.join(spark_jars(), "*")
    env = dict(os.environ, LC_ALL="C.UTF-8")
    scala = [s for s in srcs if s.endswith(".scala")]
    java = [s for s in srcs if s.endswith(".java")]
    # scalac parses the Java sources for mixed compilation; javac then
    # compiles them against the Scala classes.
    subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", compiler_cp(),
                    "scala.tools.nsc.Main", "-nowarn", "-encoding", "UTF-8",
                    "-d", tmp, "-classpath", spark_cp] + scala + java,
                   check=True, env=env, stdout=sys.stderr)
    if java:
        subprocess.run(["javac", "-J-XX:-UsePerfData", "-nowarn", "-encoding", "UTF-8", "-d", tmp,
                        "-cp", tmp + os.pathsep + spark_cp] + java,
                       check=True, env=env, stdout=sys.stderr)
    open(os.path.join(tmp, ".complete"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    print(build(os.path.abspath(sys.argv[1] if len(sys.argv) > 1
                                else os.path.join(ROOT, ".bench_build"))))
