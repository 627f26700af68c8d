"""Build file of the benchmark.

Compiles the program's sources (src/main/scala) together with the
benchmark's own (perfbench/src) into one class directory, using the Scala
compiler that ships in the Spark distribution under $SPARK_HOME/jars (the
same jars the program runs on). A hash of every source decides whether a
build is needed, so only the first run in a checkout compiles.

    python3 perfbench/build.py      # build into .bench_build/perfbench/classes
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".bench_build" / "perfbench"
SOURCE_DIRS = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "src"]


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home or not (Path(home) / "jars").is_dir():
        sys.exit("perfbench: SPARK_HOME must point at a Spark distribution")
    return Path(home) / "jars"


def classpath() -> str:
    return os.pathsep.join([str(WORK / "classes"), str(spark_jars() / "*")])


def sources() -> list:
    for d in SOURCE_DIRS:
        if not d.is_dir():
            sys.exit(f"perfbench: missing source directory {d.relative_to(ROOT)}")
    return sorted(p for d in SOURCE_DIRS for p in d.rglob("*.scala"))


def build() -> Path:
    """Compile if any source changed; return the class directory."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes() + b"\0")
    stamp = WORK / "classes.sha256"
    classes = WORK / "classes"
    if classes.is_dir() and stamp.is_file() and stamp.read_text() == h.hexdigest():
        return classes
    fresh = WORK / "classes.tmp"
    shutil.rmtree(fresh, ignore_errors=True)
    fresh.mkdir(parents=True)
    argfile = WORK / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    cmd = ["java", "-Xss4m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={WORK}", "-cp", str(spark_jars() / "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-d", str(fresh), f"@{argfile}"]
    if subprocess.run(cmd).returncode != 0:
        sys.exit("perfbench: compilation failed")
    shutil.rmtree(classes, ignore_errors=True)
    fresh.rename(classes)
    stamp.write_text(h.hexdigest())
    return classes


if __name__ == "__main__":
    print(build())
