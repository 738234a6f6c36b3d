"""Build of the benchmark program: scalac over the engine's sources
(src/main/scala) and the benchmark's (perfbench/src/main/scala), against the
Spark distribution's jars, which include the Scala compiler. The build is
skipped when no source changed since the last one.

This is not the repo's sbt build: sbt keeps its launcher, compiler and
server state in the user's home, outside the checkout. So that both build
the same engine, the build stops when build.sbt's scalaVersion,
scalacOptions or unmanagedBase differ from what this build uses.

  python3 perfbench/build.py        # from the repository root
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD_DIR = ".bench_build"
SOURCE_DIRS = ["src/main/scala", "perfbench/src/main/scala"]
# scalac options that change the classes; -nowarn, -d and -classpath are
# this build's own
SCALAC_OPTIONS = ["-encoding", "UTF-8"]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("SPARK_HOME is not set and spark-submit is not on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
    if not jars:
        raise SystemExit(f"no jars under {home}/jars")
    return jars


def check_sbt(root, jars):
    """Stops the build when build.sbt would compile the engine otherwise."""
    with open(os.path.join(root, "build.sbt")) as f:
        sbt = f.read()
    version = re.search(r'scalaVersion\s*:=\s*"([^"]+)"', sbt).group(1)
    options = []
    for m in re.finditer(r'scalacOptions\s*(\+\+?=)\s*(Seq\(([^)]*)\)|"([^"]*)")', sbt):
        options += re.findall(r'"([^"]*)"', m.group(3)) if m.group(3) is not None else [m.group(4)]
    base = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt)
    compiler = [os.path.basename(j) for j in jars
                if os.path.basename(j).startswith("scala-compiler-")]
    problems = []
    if compiler != [f"scala-compiler-{version}.jar"]:
        problems.append(f"build.sbt's scalaVersion is {version}, the jars hold {compiler}")
    if options != SCALAC_OPTIONS:
        problems.append(f"build.sbt's scalacOptions are {options}, this build's {SCALAC_OPTIONS}")
    if base and os.path.realpath(base.group(1)) != os.path.realpath(os.path.dirname(jars[0])):
        problems.append(f"build.sbt's unmanagedBase is {base.group(1)}, "
                        f"this build's jars are in {os.path.dirname(jars[0])}")
    if problems:
        raise SystemExit("perfbench/build.py no longer matches build.sbt: " + "; ".join(problems))


def sources(root):
    out = []
    for d in SOURCE_DIRS:
        for dirpath, _, files in os.walk(os.path.join(root, d)):
            out += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(root):
    """Compiles if needed; returns the run classpath as a list."""
    jars = spark_jars()
    check_sbt(root, jars)
    srcs = sources(root)
    if not any(s.startswith(os.path.join(root, "src/main/scala/graft")) for s in srcs):
        raise SystemExit("engine sources not found under src/main/scala/graft")
    stamp = hashlib.sha256()
    for s in srcs:
        stamp.update(s.encode() + b"\0")
        with open(s, "rb") as f:
            stamp.update(f.read())
    # one jar, not a class directory: a JVM class-data-sharing archive
    # (run.py) maps classes from jars only; it belongs to this jar and goes
    # with it
    jar = os.path.join(root, BUILD_DIR, "classes.jar")
    stamp_file = os.path.join(root, BUILD_DIR, "classes.stamp")
    digest = stamp.hexdigest()
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == digest):
        for old in (jar, jar + ".jsa", stamp_file):
            if os.path.exists(old):
                os.remove(old)
        os.makedirs(os.path.join(root, BUILD_DIR), exist_ok=True)
        compiler = [j for j in jars if os.path.basename(j).startswith(
            ("scala-compiler-", "scala-library-", "scala-reflect-"))]
        args_file = os.path.join(root, BUILD_DIR, "scalac.args")
        with open(args_file, "w") as f:
            f.write("\n".join(["-nowarn"] + SCALAC_OPTIONS + ["-d", jar,
                               "-classpath", os.pathsep.join(jars)] + srcs))
        subprocess.run(["java", "-Xss16m", "-Xmx3g", "-XX:-UsePerfData",
                        "-cp", os.pathsep.join(compiler), "scala.tools.nsc.Main",
                        "@" + args_file], check=True, stdout=sys.stderr)
        with open(stamp_file, "w") as f:
            f.write(digest)
    return [jar] + jars


if __name__ == "__main__":
    build(os.getcwd())
