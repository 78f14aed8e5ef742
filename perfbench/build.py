"""Builds the benchmark.

Compiles the program's sources (src/main/scala) together with the
benchmark's own (perfbench/src) into .bench_build/perfbench/classes with
the Scala compiler that ships in the Spark distribution ($SPARK_HOME, or
the one whose spark-submit is on PATH), which is also the runtime
classpath. No sbt, so a build writes nothing outside the checkout. A
build is skipped when no source changed since the last one.

    python3 perfbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build" / "perfbench"
CLASSES = BUILD / "classes"


def spark_jars():
    homes = [os.environ.get("SPARK_HOME")] + [
        str(Path(d).parent) for d in os.environ.get("PATH", "").split(os.pathsep)
        if d and (Path(d) / "spark-submit").is_file()]
    for home in filter(None, homes):
        jars = Path(home) / "jars"
        if any(jars.glob("scala-compiler-*.jar")):
            return jars
    sys.exit("build: no Spark distribution with a Scala compiler; set SPARK_HOME")


def sources():
    program = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not program:
        sys.exit(f"build: no program sources under {ROOT / 'src' / 'main' / 'scala'}")
    return program + sorted((HERE / "src").rglob("*.scala"))


def build():
    """Returns the classes directory, compiling first if a source changed."""
    srcs = sources()
    resources = ROOT / "src" / "main" / "resources"
    digest = hashlib.sha256()
    for p in srcs + sorted(q for q in resources.rglob("*") if q.is_file()):
        digest.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes())
    stamp = BUILD / "stamp"
    if CLASSES.is_dir() and stamp.is_file() and stamp.read_text() == digest.hexdigest():
        return CLASSES

    jars = spark_jars()
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(f'"{p}"' for p in srcs) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss16m", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-nowarn", "-classpath", f"{jars}/*", "-d", str(tmp), f"@{argfile}"]
    print("build: compiling", len(srcs), "sources", file=sys.stderr, flush=True)
    if subprocess.run(cmd, stdout=sys.stderr, timeout=800).returncode != 0:
        sys.exit("build: compilation failed")
    if resources.is_dir():
        shutil.copytree(resources, tmp, dirs_exist_ok=True)
    shutil.rmtree(CLASSES, ignore_errors=True)
    tmp.rename(CLASSES)
    stamp.write_text(digest.hexdigest())
    return CLASSES


if __name__ == "__main__":
    print(build())
