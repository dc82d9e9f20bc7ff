"""Build file of the benchmark package.

Compiles the engine's sources (`src/main/scala`) together with the
benchmark's own (`perfbench/src`) using the Scala compiler that ships in the
Spark distribution's `jars/` directory into one jar, generates the input
tables, and records a class-data-sharing archive of the classes a warmup of
every workload loads (a run's JVM maps it instead of loading those classes
again). Everything is cached under the build directory, keyed by a digest of
the sources, so a checkout builds once.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")

# Spark 4 on JDK 17 outside spark-submit (matches the root build's list)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
JVM_OPENS = [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
JVM_BASE = ["-XX:-UsePerfData",
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")
            ] + JVM_OPENS


class BuildError(Exception):
    pass


def build_dir():
    base = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(os.path.abspath(os.path.join(ROOT, base)), "perfbench")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise BuildError("no Spark distribution: set SPARK_HOME")
    return jars


def sources(top):
    out = []
    for d, _, files in os.walk(top):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def java(args, timeout, **kw):
    return subprocess.run(["java"] + args, timeout=timeout, **kw)


def classpath(jar, jars):
    return jar + os.pathsep + os.path.join(jars, "*")


def compile_all(out_root, jars):
    if not os.path.isdir(ENGINE_SRC):
        raise BuildError("engine sources missing: " + ENGINE_SRC)
    srcs = sources(ENGINE_SRC) + sources(BENCH_SRC)
    jar = os.path.join(out_root, "perfbench-%s.jar" % digest(srcs))
    if os.path.isfile(jar):
        return jar
    for old in glob.glob(os.path.join(out_root, "perfbench-*")):
        os.remove(old)
    tmp = os.path.join(out_root, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = []
    for name in ("scala-compiler", "scala-library", "scala-reflect"):
        found = glob.glob(os.path.join(jars, name + "-2.13*.jar"))
        if not found:
            raise BuildError("no %s jar under %s" % (name, jars))
        compiler.append(found[0])
    argfile = os.path.join(out_root, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    print("[perfbench] compiling %d sources" % len(srcs), file=sys.stderr)
    r = java(["-Xss16m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
              "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
              "-cp", os.path.join(jars, "*"), "@" + argfile], timeout=800)
    if r.returncode != 0:
        raise BuildError("scalac failed")
    with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for d, _, files in os.walk(tmp):
            for f in sorted(files):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, tmp))
    shutil.rmtree(tmp)
    os.rename(jar + ".tmp", jar)
    return jar


def archive(out_root, jar, jars, small):
    """The class-data-sharing archive for `jar`; None when the JVM could not
    write one (runs then load classes the ordinary way)."""
    jsa = jar[:-len(".jar")] + ".jsa"
    if os.path.isfile(jsa):
        return jsa
    work = os.path.join(out_root, "train")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    print("[perfbench] recording the class archive", file=sys.stderr)
    r = java(["-Xmx3g", "-XX:ArchiveClassesAtExit=" + jsa + ".tmp",
              "-Djava.io.tmpdir=" + os.path.join(work, "tmp")] + JVM_BASE +
             ["-cp", classpath(jar, jars), "graftbench.Main", "train", small, work],
             timeout=800, stdout=subprocess.DEVNULL)
    shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0:
        raise BuildError("warmup for the class archive failed")
    if not os.path.isfile(jsa + ".tmp"):
        return None
    os.rename(jsa + ".tmp", jsa)
    return jsa


def prepare_data(out_root, jar, jars):
    # the tables and expectations depend only on the generator and checks
    inputs = [os.path.join(BENCH_SRC, "graftbench", f)
              for f in ("Data.scala", "Analytics.scala", "Harness.scala")]
    data = os.path.join(out_root, "data-" + digest(inputs))
    full, small = os.path.join(data, "full"), os.path.join(data, "small")
    if all(os.path.exists(os.path.join(d, "READY")) for d in (full, small)):
        return full, small
    for old in glob.glob(os.path.join(out_root, "data-*")):
        shutil.rmtree(old, ignore_errors=True)
    work = os.path.join(data, "work")
    os.makedirs(os.path.join(work, "tmp"))
    print("[perfbench] generating input tables", file=sys.stderr)
    r = java(["-Xmx3g", "-Djava.io.tmpdir=" + os.path.join(work, "tmp")] + JVM_BASE +
             ["-cp", classpath(jar, jars), "graftbench.Main",
              "prepare", full, small, work], timeout=800, stdout=subprocess.DEVNULL)
    shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0:
        raise BuildError("data generation failed")
    return full, small


def build():
    """Returns (jar, spark jars dir, full data dir, small data dir, archive
    or None)."""
    out_root = build_dir()
    os.makedirs(out_root, exist_ok=True)
    jars = spark_jars()
    jar = compile_all(out_root, jars)
    full, small = prepare_data(out_root, jar, jars)
    return jar, jars, full, small, archive(out_root, jar, jars, small)


if __name__ == "__main__":
    try:
        print(build())
    except (BuildError, subprocess.TimeoutExpired) as e:
        print("[perfbench] build failed: %s" % e, file=sys.stderr)
        sys.exit(2)
