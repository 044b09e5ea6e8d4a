#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program under measurement (src/main/scala, plus
src/main/resources) together with the benchmark's own Scala sources
(perfbench/src) into one jar, with the Scala 2.13 compiler that ships among
Spark's jars ($SPARK_HOME/jars, the same jars the program runs on). A
stamp of every input file's content skips the build when nothing changed.

Usage: python3 perfbench/build.py [BUILD_DIR]     (default: .bench_build)
Prints the runtime classpath on success.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))


# Spark 4 on JDK 17 needs these outside spark-submit
ADD_OPENS = [f"--add-opens={p}=ALL-UNNAMED" for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar")]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("build: SPARK_HOME/jars not found")
    return sorted(glob.glob(os.path.join(home, "jars", "*.jar")))


def sources(root):
    main = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(main):
        raise SystemExit(f"build: program sources not found at {main}")
    files = []
    for d in (main, os.path.join(BENCH_DIR, "src")):
        for dirpath, _, names in os.walk(d):
            files += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def resources(root):
    res = os.path.join(root, "src", "main", "resources")
    out = []
    for dirpath, _, names in os.walk(res):
        out += [os.path.join(dirpath, n) for n in names]
    return res, sorted(out)


def stamp(files, jars):
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    h.update("\n".join(os.path.basename(j) for j in jars).encode())
    return h.hexdigest()


def jar(classes, path):
    with zipfile.ZipFile(path, "w", zipfile.ZIP_STORED) as z:
        for dirpath, _, names in os.walk(classes):
            for n in sorted(names):
                f = os.path.join(dirpath, n)
                z.write(f, os.path.relpath(f, classes))


def build(root, build_dir):
    """Returns the runtime classpath."""
    jars = spark_jars()
    srcs = sources(root)
    res_dir, res = resources(root)
    bench_jar = os.path.join(build_dir, "perfbench.jar")
    classpath = os.pathsep.join([bench_jar] + jars)
    stamp_file = os.path.join(build_dir, "stamp")
    want = stamp(srcs + res, jars)
    if os.path.isfile(stamp_file) and open(stamp_file).read() == want:
        return classpath
    for f in (stamp_file, bench_jar):
        if os.path.exists(f):
            os.remove(f)
    classes = os.path.join(build_dir, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    if len(compiler) != 3:
        raise SystemExit("build: scala compiler jars not found among Spark's jars")
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-deprecation:false",
           "-d", classes, "-classpath", os.pathsep.join(jars), "@" + argfile]
    r = subprocess.run(cmd)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    for f in res:
        dst = os.path.join(classes, os.path.relpath(f, res_dir))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    jar(classes, bench_jar)
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return classpath


if __name__ == "__main__":
    root = os.getcwd()
    out = os.path.abspath(sys.argv[1] if len(sys.argv) > 1 else ".bench_build")
    os.makedirs(out, exist_ok=True)
    print(build(root, out))
