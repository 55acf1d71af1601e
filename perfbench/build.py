"""Build file of the benchmark package: compiles the engine's main sources
together with the benchmark's own sources into one jar, then records a
class-data-sharing archive of the classes a short training run loads.

The engine's sbt build is not used, so the benchmark needs neither network
nor a writable sbt/ivy home: the Scala compiler and Spark jars of the
installed Spark distribution are the whole toolchain. The output lands in
<repo>/.bench_build and is reused while the sources are unchanged.

The archive only shortens JVM start-up (Spark's classes load from it
instead of from ~300 jars); compiled code and steady-state speed are
unaffected. If it cannot be made, runs go without it.

Usage: python3 perfbench/build.py   (prints the build directory)
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
BENCH_SRC = os.path.join(HERE, "src")
OUT = os.path.join(ROOT, ".bench_build")


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME/jars, else the directory the
    engine's own build.sbt names as its unmanagedBase."""
    dirs = []
    if os.environ.get("SPARK_HOME"):
        dirs.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            dirs.append(m.group(1))
    for d in dirs:
        jars = sorted(glob.glob(os.path.join(d, "*.jar")))
        if jars:
            return jars
    raise BuildError("no Spark jars found (set SPARK_HOME)")


def sources():
    if not os.path.isdir(ENGINE_SRC):
        raise BuildError(f"engine sources not found at {ENGINE_SRC}")
    srcs = []
    for base in (ENGINE_SRC, BENCH_SRC):
        for d, _, files in os.walk(base):
            srcs += [os.path.join(d, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(srcs)


def fingerprint(srcs, jars):
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    for j in jars:
        h.update(os.path.basename(j).encode())
    return h.hexdigest()[:20]


ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def java_cmd(build_dir, work, extra=()):
    """The JVM command line every benchmark JVM runs with."""
    jar = os.path.join(build_dir, "bench.jar")
    jsa = os.path.join(build_dir, "app.jsa")
    args = ["java", "-Xms2g", "-Xmx2g", "-XX:-UsePerfData", "-Xss8m",
            f"-Djava.io.tmpdir={work}/tmp"]
    for p in ADD_OPENS:
        args += ["--add-opens", f"{p}=ALL-UNNAMED"]
    if os.path.exists(jsa):
        args.append(f"-XX:SharedArchiveFile={jsa}")
    return args + list(extra) + ["-cp", os.pathsep.join([jar] + spark_jars())]


def train(build_dir, log):
    """One short traced serve run with -XX:ArchiveClassesAtExit; it loads
    the SQL, parquet and streaming classes the workloads use."""
    work = os.path.join(build_dir, "train")
    os.makedirs(os.path.join(work, "tmp"))
    jsa = os.path.join(build_dir, "app.jsa")
    cmd = java_cmd(build_dir, work, ["-XX:ArchiveClassesAtExit=" + jsa + ".tmp"]) + [
        "graft.perfbench.Main", "--workload", "serve", "--seed", "0", "--seconds", "0",
        "--trace", "1", "--work", work, "--out", os.path.join(work, "raw.json"),
        "--cpus", str(os.cpu_count() or 1)]
    print("[perfbench] recording the class-data-sharing archive", file=log, flush=True)
    try:
        subprocess.run(cmd, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, timeout=300)
    except subprocess.TimeoutExpired:
        pass
    if os.path.exists(jsa + ".tmp"):
        os.rename(jsa + ".tmp", jsa)
    shutil.rmtree(work, ignore_errors=True)


def build(log=sys.stderr):
    """Returns the build directory, compiling first if the sources changed."""
    jars = spark_jars()
    srcs = sources()
    out = os.path.join(OUT, "build-" + fingerprint(srcs, jars))
    if os.path.isdir(out):
        return out
    os.makedirs(OUT, exist_ok=True)
    for old in glob.glob(os.path.join(OUT, "build-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = out + ".tmp"
    classes = os.path.join(tmp, "classes")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(tmp, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(["-nowarn", "-d", classes, "-classpath", os.pathsep.join(jars)] + srcs))
    print(f"[perfbench] compiling {len(srcs)} sources", file=log, flush=True)
    r = subprocess.run(["java", "-Xss8m", "-Xmx3g", "-cp", os.pathsep.join(jars),
                        "scala.tools.nsc.Main", "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=600)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    r = subprocess.run(["jar", "cf", os.path.join(tmp, "bench.jar"), "-C", classes, "."],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=120)
    if r.returncode != 0:
        raise BuildError("jar failed:\n" + r.stdout[-4000:])
    shutil.rmtree(classes)
    os.rename(tmp, out)
    # the archive records the jar's path, so it is made from the final one
    train(out, log)
    return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[perfbench] {e}", file=sys.stderr)
        sys.exit(2)
