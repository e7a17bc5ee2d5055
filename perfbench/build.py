#!/usr/bin/env python3
"""Build file of the graft benchmark.

Compiles graft's main sources (src/main/scala) and the benchmark harness
(perfbench/src) with the Scala compiler that ships among Spark's jars,
into jars under `$CARGO_TARGET_DIR/perfbench` (default
`.bench_build/perfbench`) below the repository root. A stamp of every
source file's content skips the build when nothing changed.

Usage, from the repository root:

    python3 perfbench/build.py        # prints the run classpath

Exits 2 when graft's sources are not there to build.
"""
import fcntl
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")
MAIN_RES = os.path.join(ROOT, "src", "main", "resources")


ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def java_cmd(classpath, work, args):
    """The benchmark JVM's command line."""
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    return ["java"] + opens + [
        "-Xmx3g", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/local",
        f"-Dspark.sql.warehouse.dir={work}/warehouse",
        f"-Dderby.system.home={work}/derby",
        "-cp", classpath, "graftbench.Main"] + args


def spark_jars():
    """Spark's jars: `$SPARK_HOME/jars`, else the install `spark-submit` is in."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        print("build: no Spark installation (set SPARK_HOME)", file=sys.stderr)
        raise SystemExit(2)
    return os.path.join(home, "jars")


def out_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"),
                        "perfbench")


def sources(top, suffix=".scala"):
    found = []
    for d, _, files in os.walk(top):
        found += [os.path.join(d, f) for f in files if f.endswith(suffix)]
    return sorted(found)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update("\n".join(sorted(os.listdir(spark_jars()))).encode())
    return h.hexdigest()


def scalac(dest, classpath, files):
    os.makedirs(dest, exist_ok=True)
    argfile = dest + ".args"
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", spark_jars() + "/*",
           "scala.tools.nsc.Main", "-nowarn", "-encoding", "UTF-8",
           "-d", dest, "-classpath", classpath, "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    os.remove(argfile)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed for {dest}")


def current_stamp():
    path = os.path.join(out_dir(), "stamp")
    return open(path).read() if os.path.exists(path) else ""


def jar(classes, dest):
    with zipfile.ZipFile(dest, "w", zipfile.ZIP_STORED) as z:
        for d, _, files in os.walk(classes):
            for f in sorted(files):
                full = os.path.join(d, f)
                z.write(full, os.path.relpath(full, classes))


def build():
    """Compile if needed; return the classpath to run the harness with."""
    main = sources(MAIN_SRC)
    bench = sources(BENCH_SRC)
    if not main or not bench:
        print("build: graft sources (src/main/scala) or perfbench/src missing",
              file=sys.stderr)
        raise SystemExit(2)
    res = [f for d, _, fs in os.walk(MAIN_RES) for f in
           (os.path.join(d, x) for x in fs)] if os.path.isdir(MAIN_RES) else []
    out = out_dir()
    jars = [os.path.join(out, "harness.jar"), os.path.join(out, "graft.jar")]
    cp = os.pathsep.join(jars + [spark_jars() + "/*"])
    want = stamp(main + bench + sorted(res))
    stamp_file = os.path.join(out, "stamp")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "lock"), "w") as lock:
        # one build at a time; a concurrent caller waits and reuses it
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not (os.path.exists(stamp_file) and open(stamp_file).read() == want):
            for f in [stamp_file] + jars:
                if os.path.exists(f):
                    os.remove(f)
            compile_all(main, bench, res, jars)
            with open(stamp_file, "w") as fh:
                fh.write(want)
    return cp


def compile_all(main, bench, res, jars):
    out = out_dir()
    tmp = os.path.join(out, f"tmp-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    print("build: compiling graft and the harness", file=sys.stderr)
    graft, harness = os.path.join(tmp, "graft"), os.path.join(tmp, "harness")
    scalac(graft, spark_jars() + "/*", main)
    for f in res:
        dst = os.path.join(graft, os.path.relpath(f, MAIN_RES))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copy(f, dst)
    scalac(harness, os.pathsep.join([graft, spark_jars() + "/*"]), bench)
    jar(harness, jars[0])
    jar(graft, jars[1])
    shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    print(build())
