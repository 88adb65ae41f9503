"""Per-layer table from traced runs: for each trace JSON (written by
`run.py --trace 1` under .perfbench/work/<workload>/trace/), the layer self
times, the tracing overhead and the per-layer metrics, as markdown.

    python3 perfbench/report.py <trace.json>... > perfbench/results/TRACE.md
"""
import json
import statistics
import sys


def main(paths: list) -> None:
    traces = [json.load(open(p)) for p in paths]
    print("# Per-layer self times (traced runs)\n")
    print("Generated by `report.py` from the trace JSON files in `trace/`, one "
          "`run.py --seed <n> --seconds 20 --trace 1` run per workload.\n")
    for t in traces:
        m = t["metrics"]
        print(f"## {t['workload']} (seed {t['seed']})\n")
        for n in t["notes"]:
            print(f"- {n}")
        diffs = [on - off for off, on in t["overhead_pairs_s"]]
        q1, _, q3 = statistics.quantiles(diffs, n=4)
        if q1 > 0:
            verdict = "the listeners cost time"
        elif q3 < 0:
            verdict = ("not resolved: the traced pass was the faster one in most pairs, "
                       "so the listeners cost less than the pass-to-pass noise")
        else:
            verdict = "within noise: the quartiles straddle 0"
        print(f"- tracing overhead: {m['trace.overhead_s']:.3f} s, the median of {len(diffs)} "
              f"traced-minus-untraced pass differences (quartiles {q1:.3f} to {q3:.3f} s; {verdict}); "
              f"full pass {m['trace.traced_wall_s']:.3f} s traced, "
              f"{m['trace.untraced_wall_s']:.3f} s untraced\n")
        print("| layer | self time (s) |\n|---|---|")
        for k, v in t["layer_self_s"].items():
            print(f"| {k} | {v:.3f} |")
        print("\n| metric | value |\n|---|---|")
        for k, v in m.items():
            print(f"| {k} | {v:.6g} |")
        print()


if __name__ == "__main__":
    main(sys.argv[1:])
