"""Build file of the benchmark: compiles graft (src/main/scala) and the
benchmark (perfbench/src) from source, with the Scala compiler that ships
among Spark's jars, into <build dir>/perfbench/graft-perfbench.jar.

    python3 perfbench/build.py

The build dir is $CARGO_TARGET_DIR when set, else .bench_build, relative to
the repository root. A build is skipped when the sources, compiler and flags
hash to the stamp of the last one.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SOURCE_DIRS = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "src"]
SCALA_VERSION = "2.13.17"
SCALAC_FLAGS = ["-nowarn"]
# a jar, not a class directory: the JVM's class-data archive (see `archive`)
# only takes classes from jars
JAR = "graft-perfbench.jar"

# Spark on JDK 17 outside spark-submit needs the module options spark-submit
# would add (the same list as build.sbt).
JVM_OPENS = [
    arg
    for m in [
        "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
        "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
        "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
        "java.base/sun.util.calendar",
    ]
    for arg in ("--add-opens", f"{m}=ALL-UNNAMED")
]


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    """$SPARK_HOME/jars, else the jar directory build.sbt names
    (`unmanagedBase`), so both builds compile against the same Spark."""
    if "SPARK_HOME" in os.environ:
        return Path(os.environ["SPARK_HOME"]) / "jars"
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.is_file() else None
    if not m:
        raise BuildError("set SPARK_HOME: build.sbt names no unmanagedBase jar directory")
    return Path(m.group(1))


def build_dir() -> Path:
    d = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    return d if d.is_absolute() else ROOT / d


def sources() -> list:
    for d in SOURCE_DIRS:
        if not d.is_dir():
            raise BuildError(f"missing source directory {d.relative_to(ROOT)}")
    files = sorted(p for d in SOURCE_DIRS for p in d.rglob("*.scala"))
    if not files:
        raise BuildError("no Scala sources")
    return files


def stamp(files: list) -> str:
    h = hashlib.sha256()
    h.update(" ".join([SCALA_VERSION] + SCALAC_FLAGS).encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def classpath(out: Path) -> str:
    """Runtime classpath of a build made by `build`."""
    return str(out / JAR) + os.pathsep + str(spark_jars() / "*")


def archive(out: Path) -> Path:
    """Records the classes one pass over every workload loads into a
    class-data archive (out/classes.jsa). Runs that map it start the JVM and
    the Spark session in about half the time, so more of a run's time
    budget goes to measuring."""
    jsa = out / "classes.jsa"
    if jsa.is_file():
        return jsa
    work = out / "train"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = ["java", "-Xmx3g", "-XX:-UsePerfData", f"-XX:ArchiveClassesAtExit={out / 'classes.jsa.tmp'}",
           "-Xlog:disable", "-Xlog:all=error:stderr", f"-Djava.io.tmpdir={work / 'tmp'}",
           *JVM_OPENS, "-cp", classpath(out), "graft.perfbench.Train", str(work)]
    try:
        with open(out / "train.stderr", "w") as err:
            r = subprocess.run(cmd, stdout=subprocess.DEVNULL, stderr=err, cwd=ROOT, timeout=600)
    except subprocess.TimeoutExpired:
        raise BuildError(f"class-data training run took over 600 s; see {out / 'train.stderr'}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0 or not (out / "classes.jsa.tmp").is_file():
        raise BuildError(f"class-data training run exited with {r.returncode}; see {out / 'train.stderr'}")
    (out / "classes.jsa.tmp").rename(jsa)
    return jsa


def build() -> Path:
    """Compiles when needed; returns the output directory."""
    files = sources()
    out = build_dir() / "perfbench"
    want = stamp(files)
    stamp_file = out / "stamp"
    if stamp_file.is_file() and stamp_file.read_text() == want and (out / JAR).is_file():
        return out
    jars = spark_jars()
    if not (jars / f"scala-compiler-{SCALA_VERSION}.jar").is_file():
        raise BuildError(f"no scala-compiler-{SCALA_VERSION}.jar under {jars}")
    compiler = os.pathsep.join(
        str(jars / f"scala-{part}-{SCALA_VERSION}.jar") for part in ("compiler", "library", "reflect")
    )
    tmp = out / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    (out / "tmp").mkdir(exist_ok=True)
    cmd = [
        "java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={out / 'tmp'}",
        "-cp", compiler, "scala.tools.nsc.Main",
        "-classpath", str(jars / "*"), "-d", str(tmp), *SCALAC_FLAGS, *map(str, files),
    ]
    try:
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=600)
    except subprocess.TimeoutExpired:
        raise BuildError("scalac took over 600 s")
    if r.returncode != 0:
        sys.stderr.write(r.stdout)
        raise BuildError(f"scalac exited with {r.returncode}")
    with zipfile.ZipFile(out / (JAR + ".tmp"), "w", zipfile.ZIP_DEFLATED) as z:
        for f in sorted(tmp.rglob("*.class")):
            z.write(f, f.relative_to(tmp).as_posix())
    shutil.rmtree(tmp)
    for old in out.glob("*.jsa"):
        old.unlink()
    (out / (JAR + ".tmp")).rename(out / JAR)
    stamp_file.write_text(want)
    return out


if __name__ == "__main__":
    try:
        out = build()
        archive(out)
        print(out)
    except BuildError as e:
        sys.exit(f"build failed: {e}")
