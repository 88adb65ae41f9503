"""Runs one benchmark workload in its own JVM and prints its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: stitch_tiles_npy, stitch_blocks_parquet, affine_field_npy,
driver_queries. Builds the program from source first (see build.py). The
last stdout line is the JSON result; --trace 1 also writes the span trace to
.perfbench/work/<workload>/trace/. Exit code 0 only when every output check
passed.
"""
import argparse
import signal
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ["stitch_tiles_npy", "stitch_blocks_parquet", "affine_field_npy", "driver_queries"]
JVM_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    try:
        classpath = build.build()
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    work = build.ROOT / ".perfbench" / "work" / a.workload
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # a fixed heap keeps collections alike from run to run; 32 MB regions keep
    # tiles and field blocks out of humongous regions
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:G1HeapRegionSize=32m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", str(work)]
    proc = subprocess.Popen(cmd, cwd=build.ROOT, stdout=subprocess.PIPE, text=True)

    def stop(signum, _frame):
        proc.kill()
        proc.communicate()
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        print(f"perfbench: {a.workload} did not finish within {JVM_TIMEOUT_S} s", file=sys.stderr)
        return 3
    lines = out.rstrip("\n").split("\n")
    if not lines[-1].startswith("{"):
        sys.stdout.write(out)
        print(f"perfbench: no result line (exit code {proc.returncode})", file=sys.stderr)
        return proc.returncode or 4
    sys.stdout.write(out)
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main())
