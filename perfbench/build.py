#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark (perfbench/src) from source into .bench_build/classes with
the Scala compiler that ships with Spark, then stamps the build with a
hash of its sources so later runs reuse it.

Usage: python3 perfbench/build.py   (from the repository root)
Prints the class path to run with on its last line.
"""
import fcntl
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

SPARK_JARS = Path(os.environ.get("SPARK_HOME", "/opt/spark")) / "jars"


def sources(root: Path) -> list:
    files = sorted((root / "src/main/scala").rglob("*.scala"))
    files += sorted((root / "perfbench/src").rglob("*.scala"))
    return files


def classpath(root: Path) -> str:
    return os.pathsep.join([str(root / ".bench_build/classes"),
                            str(root / "src/main/resources"),
                            str(SPARK_JARS / "*")])


def build(root: Path) -> str:
    out = root / ".bench_build"
    out.mkdir(exist_ok=True)
    srcs = sources(root)
    if not srcs or not (root / "src/main/scala").is_dir():
        raise SystemExit("perfbench: no program sources under src/main/scala")
    h = hashlib.sha256()
    for f in srcs:
        h.update(str(f.relative_to(root)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    with open(out / "lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp_file = out / "stamp"
        if stamp_file.exists() and stamp_file.read_text() == stamp \
                and (out / "classes").is_dir():
            return classpath(root)
        tmp = out / "classes.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir()
        (out / "sources.txt").write_text("\n".join(str(f) for f in srcs))
        r = subprocess.run(
            ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", str(SPARK_JARS / "*"),
             "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", str(tmp),
             "@" + str(out / "sources.txt")],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            raise SystemExit("perfbench: compile failed")
        shutil.rmtree(out / "classes", ignore_errors=True)
        tmp.rename(out / "classes")
        stamp_file.write_text(stamp)
    return classpath(root)


if __name__ == "__main__":
    print(build(Path.cwd()))
