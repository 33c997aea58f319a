#!/usr/bin/env python3
"""Build the engine and the benchmark harness from source.

Run from the root of the repository:

    python3 perfbench/build.py

It compiles `src/main/scala` (the engine) and `perfbench/src` (the
harness) with the Scala compiler that ships in Spark's jar directory
(`$SPARK_HOME/jars`, default `/opt/spark/jars`), packs each into a jar,
and records a JVM class-data archive of the classes a run loads (one
short training run, `graft.perfbench.Train`), all under
`$CARGO_TARGET_DIR` (default `.bench_build`). Steps whose inputs are
unchanged are skipped. Prints the java command prefix of a run as its
last line.
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

ROOT = Path.cwd()
SPARK_JARS = Path(os.environ.get("SPARK_HOME", "/opt/spark")) / "jars"
OUT = ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")

# Spark 4 on JDK 17 needs these when a session starts outside spark-submit.
JVM_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]] + [
    "-Xmx3g", "-Xss4m", "-Dfile.encoding=UTF-8",
    # No hsperfdata files outside the build directory.
    "-XX:-UsePerfData",
    # JVM warnings (class-data sharing among them) go to stderr, never
    # into the result on stdout.
    "-Xlog:disable", "-Xlog:all=warning:stderr"]


def sources(rel):
    d = ROOT / rel
    if not d.is_dir():
        raise SystemExit(f"build: {rel} not found under {ROOT}; run from the repository root")
    files = sorted(d.rglob("*.scala"))
    if not files:
        raise SystemExit(f"build: no Scala sources under {rel}")
    return files


def digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def fresh(stamp_file, stamp):
    return stamp_file.is_file() and stamp_file.read_text() == stamp


def compile_jar(name, files, classpath, extra_key=""):
    """Compile `files` and pack them into OUT/name.jar unless its stamp matches."""
    jar = OUT / f"{name}.jar"
    stamp_file = OUT / f"{name}.stamp"
    stamp = digest(files, extra_key)
    if jar.is_file() and fresh(stamp_file, stamp):
        return jar, stamp
    classes = OUT / f"{name}-classes"
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    argfile = OUT / f"{name}.args"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", f"-Djava.io.tmpdir={OUT}",
           "-cp", str(SPARK_JARS / "*"),
           "scala.tools.nsc.Main", "-d", str(classes), "-classpath", classpath,
           "-encoding", "UTF-8", "-nowarn", f"@{argfile}"]
    print(f"build: compiling {len(files)} files into {jar}", file=sys.stderr)
    if subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr).returncode != 0:
        raise SystemExit(f"build: compiling {name} failed")
    tmp = OUT / f"{name}.jar.tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_STORED) as z:
        for f in sorted(classes.rglob("*.class")):
            z.write(f, f.relative_to(classes).as_posix())
    tmp.replace(jar)
    shutil.rmtree(classes)
    stamp_file.write_text(stamp)
    return jar, stamp


def build():
    """Build what changed; return the java command prefix of a run."""
    if not list(SPARK_JARS.glob("scala-compiler-*.jar")):
        raise SystemExit(f"build: no Scala compiler in {SPARK_JARS}")
    OUT.mkdir(parents=True, exist_ok=True)
    spark_jars = [str(j) for j in sorted(SPARK_JARS.glob("*.jar"))]
    engine, engine_stamp = compile_jar("engine", sources("src/main/scala"),
                                       str(SPARK_JARS / "*"))
    bench, bench_stamp = compile_jar("bench", sources("perfbench/src"),
                                     os.pathsep.join([str(engine), str(SPARK_JARS / "*")]),
                                     engine_stamp)
    # The archive is only valid for this exact jar list, so the class
    # path names every jar (no wildcard) and a rebuilt jar re-records it.
    classpath = os.pathsep.join([str(bench), str(engine)] + spark_jars)
    archive = OUT / "classes.jsa"
    archive_stamp = OUT / "classes.jsa.stamp"
    if not (archive.is_file() and fresh(archive_stamp, bench_stamp)):
        work = OUT / "train"
        shutil.rmtree(work, ignore_errors=True)
        (work / "tmp").mkdir(parents=True)
        archive.unlink(missing_ok=True)
        print(f"build: recording class-data archive {archive}", file=sys.stderr)
        res = subprocess.run(
            ["java", *JVM_OPTS, f"-XX:ArchiveClassesAtExit={archive}",
             f"-Djava.io.tmpdir={work / 'tmp'}", "-cp", classpath,
             "graft.perfbench.Train", str(work)],
            stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, timeout=600)
        shutil.rmtree(work, ignore_errors=True)
        if res.returncode != 0 or not archive.is_file():
            raise SystemExit("build: the training run for the class-data archive failed")
        archive_stamp.write_text(bench_stamp)
    return ["java", *JVM_OPTS, f"-XX:SharedArchiveFile={archive}", "-cp", classpath]


if __name__ == "__main__":
    print(" ".join(build()))
