"""Singer-target benchmark: one workload, one seed, one run.

    python3 singerbench/run.py --workload multi4_direct --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Builds the program and the benchmark (see
build.py), generates the workload's input from the seed, times complete
ingests for about --seconds seconds, checks every output, and prints the
result as the last line of standard output:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
--trace 1 instead prints the per-layer breakdown of the same workload.
Exits non-zero, without a result line, when it cannot build or run.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("multi4_direct", "lineitem_strict", "stream_append")
# Spark 4 on JDK 17 outside spark-submit needs these (the set spark-submit adds).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
RUN_TIMEOUT_S = 170


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    try:
        cp = build.build()
    except (OSError, subprocess.SubprocessError) as e:
        print(f"singerbench: cannot build the program: {e}", file=sys.stderr)
        return 2

    work = build.BENCH / ".work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    spans = build.BENCH / "results" / f"spans-{a.workload}-{a.seed}.jsonl"
    cmd = ["java", "-Xms1536m", "-Xmx1536m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "singerbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", str(work),
            "--spans", str(spans)]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"singerbench: run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()  # only when no other run is using it
        except OSError:
            pass
    lines = out.splitlines()
    if proc.returncode != 0 or not lines:
        sys.stdout.write(out)
        print(f"singerbench: benchmark JVM exited with {proc.returncode}", file=sys.stderr)
        return proc.returncode or 4
    result = json.loads(lines[-1])
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
