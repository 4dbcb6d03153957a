"""Build file of the benchmark: compiles the library (src/main/scala) together
with the benchmark's own Scala sources into one jar.

The Scala compiler, the Scala library and Spark all come from the Spark
distribution named by SPARK_HOME or, when that is unset, the one whose
`spark-submit` is on the PATH, so the build needs no dependency resolution
and writes nothing outside the checkout. A content hash of every source file
decides whether the build is current.

    python3 perfbench/build.py        # build (or confirm the build is current)
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD_DIR = ROOT / ".bench_build" / "perfbench"
JAR = BUILD_DIR / "perfbench.jar"
SOURCE_DIRS = ["src/main/scala", "perfbench/src", "perfbench/test"]
COMPILE_TIMEOUT_S = 800


class BuildError(Exception):
    pass


def spark_jars():
    """jars/ of SPARK_HOME or, when it is unset, of the first distribution
    whose bin/spark-submit is on the PATH (a pip-installed spark-submit
    wrapper has no jars/ beside it and is passed over)."""
    homes = [Path(os.environ["SPARK_HOME"])] if os.environ.get("SPARK_HOME") else [
        (Path(d) / "spark-submit").resolve().parent.parent
        for d in os.environ.get("PATH", "").split(os.pathsep) if (Path(d) / "spark-submit").is_file()]
    for home in homes:
        if (home / "jars").is_dir():
            return str(home / "jars")
    raise BuildError("set SPARK_HOME, or put spark-submit on the PATH, "
                     "to name a Spark 4.1 distribution with a jars/ directory")


def sources():
    files = []
    for d in SOURCE_DIRS:
        base = ROOT / d
        if not base.is_dir():
            raise BuildError(f"missing source directory {d}")
        files += sorted(str(p) for p in base.rglob("*.scala"))
    return files


def source_hash(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        h.update(Path(f).read_bytes())
    return h.hexdigest()


# Spark on JDK 17 outside spark-submit needs these opens (the same list the
# repository's sbt build passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def java_cmd(work, main, args):
    """The benchmark JVM: 3 GB heap, UTC, temp files and logs inside `work`."""
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = Path(work) / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    return (["java", "-Xmx3g", "-Xss8m", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
             f"-Dlog4j2.configurationFile={ROOT / 'perfbench' / 'log4j2.properties'}",
             "-Dspark.ui.enabled=false"] + opens +
            ["-cp", str(JAR) + os.pathsep + spark_jars() + "/*", main] + args)


def build(log=sys.stderr):
    """Compile and package if the sources changed."""
    files = sources()
    digest = source_hash(files)
    classes = BUILD_DIR / "classes"
    stamp = BUILD_DIR / "stamp"
    if JAR.is_file() and stamp.is_file() and stamp.read_text() == digest:
        return JAR
    stamp.unlink(missing_ok=True)
    tmp = BUILD_DIR / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    jars = spark_jars()
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars + "/*", "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", str(tmp)] + files
    print(f"[perfbench] compiling {len(files)} Scala files", file=log, flush=True)
    r = subprocess.run(cmd, stdout=log, stderr=log, timeout=COMPILE_TIMEOUT_S)
    if r.returncode != 0:
        raise BuildError(f"scalac exited with {r.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    subprocess.run(["jar", "cf", str(JAR), "-C", str(classes), "."], check=True, timeout=120)
    stamp.write_text(digest)
    return JAR


if __name__ == "__main__":
    try:
        print(build())
    except (BuildError, subprocess.TimeoutExpired) as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(1)
