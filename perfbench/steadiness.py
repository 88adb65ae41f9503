"""Steadiness check: runs each workload once per seed and reports, for every
metric, the median and the spread (distance between the first and third
quartile, as a share of the median), next to the bound in BENCHMARK.json.

    python3 perfbench/steadiness.py --runs 10 [--workloads a,b] [--out file.json]

Seeds are 1..runs; every run is the gated end-to-end run (--trace 0).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def host() -> str:
    cpuinfo = Path("/proc/cpuinfo")
    model = next((line.split(":", 1)[1].strip() for line in cpuinfo.read_text().splitlines()
                  if line.startswith("model name")), "?") if cpuinfo.is_file() else "?"
    java = subprocess.run(["java", "-version"], capture_output=True, text=True).stderr.split("\n")[0]
    return f"{os.cpu_count()} x {model}; {java}"


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--out")
    a = ap.parse_args()
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    report = {}
    ok = True
    for w in a.workloads.split(","):
        values, elapsed = {}, []
        for seed in range(1, a.runs + 1):
            t = time.time()
            r = subprocess.run(["python3", "perfbench/run.py", "--workload", w, "--seed", str(seed),
                                "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                               cwd=ROOT, capture_output=True, text=True)
            elapsed.append(time.time() - t)
            last = r.stdout.strip().split("\n")[-1]
            res = json.loads(last) if last.startswith("{") else {"correct": False, "metrics": {}}
            if r.returncode != 0 or not res["correct"]:
                ok = False
                print(f"{w} seed {seed}: exit {r.returncode}, correct={res['correct']}", file=sys.stderr)
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            print(f"{w} seed {seed}: {elapsed[-1]:.1f} s " +
                  " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        rows = {}
        for k, vs in values.items():
            med = statistics.median(vs)
            q = statistics.quantiles(vs, n=4) if len(vs) > 1 else [med, med, med]
            spread = (q[2] - q[0]) / med if med else float("inf")
            rows[k] = {"median": med, "spread": spread, "bound": bounds.get(k), "values": vs}
            b = bounds.get(k)
            flag = "" if b is None or k == "setup_s" or spread < b / 3 else "  <-- spread >= bound/3"
            print(f"  {w} {k}: median {med:.4g} spread {spread:.3%} bound {b}{flag}")
        report[w] = {"elapsed_s": elapsed, "metrics": rows}
        print(f"  {w}: run time median {statistics.median(elapsed):.1f} s, max {max(elapsed):.1f} s")
    if a.out:
        Path(a.out).write_text(json.dumps({"argv": sys.argv[1:], "host": host(), "workloads": report},
                                          indent=1) + "\n")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
