#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main) together
with the benchmark's JVM side (perfbench/src) using the Scala compiler that
ships in Spark's jar directory. No sbt, no dependency resolution, no network.

Run from the root of a checkout:  python3 perfbench/build.py
The classes and resources land in $CARGO_TARGET_DIR (default .bench_build)
as app.jar, and a source digest makes a second call a no-op.
"""
import hashlib
import os
import pathlib
import re
import shutil
import subprocess
import sys
import zipfile

ROOT = pathlib.Path.cwd()
MAIN = ROOT / "src" / "main"
BENCH_SRC = ROOT / "perfbench" / "src"

# Spark 4 on JDK 17 needs these outside spark-submit (the same list the
# project's build passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def build_dir():
    return ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the project's
    `unmanagedBase` in build.sbt."""
    home = os.environ.get("SPARK_HOME")
    if home and (pathlib.Path(home) / "jars").is_dir():
        return pathlib.Path(home) / "jars"
    sbt = ROOT / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m and pathlib.Path(m.group(1)).is_dir():
            return pathlib.Path(m.group(1))
    sys.exit("perfbench: Spark jars not found (set SPARK_HOME)")


def sources():
    return sorted(MAIN.glob("scala/**/*.scala")) + sorted(BENCH_SRC.glob("**/*.scala"))


def resources():
    return sorted(p for p in (MAIN / "resources").rglob("*") if p.is_file())


def app_jar():
    return build_dir() / "app.jar"


def classpath():
    return os.pathsep.join([str(app_jar()), str(spark_jars() / "*")])


def java_opts():
    """JVM flags of every benchmark JVM: the module opens, and all scratch
    files (JVM, Hadoop) kept inside the build directory."""
    tmp = build_dir() / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    return ([x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
            ["-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", f"-Dspark.hadoop.hadoop.tmp.dir={tmp}"])


def build():
    """Compiles if the sources changed; returns the digest of the build."""
    srcs = sources()
    if not (MAIN / "scala").is_dir() or not any(s.is_relative_to(MAIN) for s in srcs):
        sys.exit("perfbench: no program sources under src/main/scala")
    digest = hashlib.sha256()
    for s in srcs + resources():
        digest.update(str(s.relative_to(ROOT)).encode())
        digest.update(s.read_bytes())
    stamp = build_dir() / "app.sha256"
    if stamp.is_file() and stamp.read_text() == digest.hexdigest() and app_jar().is_file():
        return digest.hexdigest()
    (build_dir() / "app.jsa").unlink(missing_ok=True)  # archived the old classes
    tmp = build_dir() / "classes"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = build_dir() / "sources.txt"
    argfile.write_text("\n".join(str(s) for s in srcs) + "\n")
    jars = str(spark_jars() / "*")
    cmd = (["java", "-Xss8m", "-Xmx2g"] + java_opts() +
           ["-cp", jars, "scala.tools.nsc.Main", "-nowarn", "-classpath", jars, "-d", str(tmp),
            f"@{argfile}"])
    print("perfbench: compiling %d sources" % len(srcs), file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        sys.exit("perfbench: compile failed")
    with zipfile.ZipFile(app_jar(), "w", zipfile.ZIP_STORED) as jar:
        for base, files in ((tmp, sorted(p for p in tmp.rglob("*") if p.is_file())),
                            (MAIN / "resources", resources())):
            for f in files:
                jar.write(f, f.relative_to(base).as_posix())
    shutil.rmtree(tmp)
    stamp.write_text(digest.hexdigest())
    return digest.hexdigest()


if __name__ == "__main__":
    build()
