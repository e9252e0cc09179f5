"""Build file of the benchmark: compiles the program (src/main/scala) and the
benchmark (singerbench/src) with the Scala compiler that ships with Spark,
into singerbench/.build/. A build is reused while no source file changes.

    python3 singerbench/build.py        # prints the runtime classpath
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = BENCH / ".build"
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
PROGRAM_RES = ROOT / "src" / "main" / "resources"
BENCH_SRC = BENCH / "src"


def spark_jars():
    return Path(os.environ.get("SPARK_HOME", "/opt/spark")) / "jars"


def sources():
    return sorted(PROGRAM_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))


def classpath():
    return os.pathsep.join([str(OUT / "classes"), str(PROGRAM_RES), str(spark_jars() / "*")])


def build():
    """Compiles when the sources changed since the last build; returns the
    runtime classpath. Raises on a compile error."""
    srcs = sources()
    if not any(p.is_relative_to(PROGRAM_SRC) for p in srcs):
        raise FileNotFoundError(f"no program sources under {PROGRAM_SRC}")
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    stamp = OUT / "stamp"
    if stamp.exists() and stamp.read_text() == h.hexdigest():
        return classpath()
    shutil.rmtree(OUT, ignore_errors=True)
    (OUT / "classes").mkdir(parents=True)
    args = OUT / "sources.txt"
    args.write_text("\n".join(str(p) for p in srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", str(spark_jars() / "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-Ybackend-parallelism", str(min(4, os.cpu_count() or 1)),
           "-d", str(OUT / "classes"), f"@{args}"]
    subprocess.run(cmd, check=True, stdout=sys.stderr, timeout=840)
    stamp.write_text(h.hexdigest())
    return classpath()


if __name__ == "__main__":
    print(build())
