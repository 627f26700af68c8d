"""CellPhe chain benchmark.

    python3 perfbench/run.py --workload dense_frames --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark from source (first run only), then
runs one benchmark process (perfbench.Main) on one workload. Every line
it prints goes to stdout; the last line is the result JSON. See
perfbench/README.md for the chain, the workloads and the metrics.
"""
import argparse
import json
import os
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("dense_frames", "long_tracks", "small_video")
PINNED = build.ROOT / "perfbench" / "digests.tsv"
# a run is stopped (and fails) if the benchmark process outlives
# --seconds by more than this: set-up, the warm-up chain and the last chain
TIMEOUT_MARGIN_S = 160
HEAP = "3g"
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    build.build()
    work = build.WORK
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
           + [o for p in JDK17_OPENS for o in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", build.classpath(), "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--cores", str(cores), "--work-dir", str(work),
              "--pinned", str(PINNED)])
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    timeout = a.seconds + TIMEOUT_MARGIN_S
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"perfbench: benchmark process exceeded {timeout:g} s", file=sys.stderr)
        return 1
    lines = out.rstrip("\n").split("\n")
    if proc.returncode != 0:
        sys.stderr.write(out)
        print(f"perfbench: benchmark process exited {proc.returncode}", file=sys.stderr)
        return 1
    result = json.loads(lines[-1])
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
