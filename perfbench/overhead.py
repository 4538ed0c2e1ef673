#!/usr/bin/env python3
"""Traced-run report: runs one workload untraced and traced on the same
seeds, prints the median of every per-layer metric of the traced runs,
and the tracing overhead as the traced-minus-untraced delta of the
median of every end-to-end metric.

    python3 perfbench/overhead.py --workload msg_stream --seeds 1 2 3
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=float, default=20)
    a = ap.parse_args()
    runs = {0: [], 1: []}
    with tempfile.TemporaryDirectory(dir=HERE) as tmp:
        for seed in a.seeds:
            for trace in (0, 1):
                rep = os.path.join(tmp, f"{seed}-{trace}.json")
                subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                                "--workload", a.workload, "--seed", str(seed),
                                "--seconds", str(a.seconds), "--trace",
                                str(trace), "--report", rep],
                               check=True, stdout=subprocess.DEVNULL)
                with open(rep) as fh:
                    runs[trace].append(json.load(fh))
    print(f"{a.workload}: per-layer medians of {len(a.seeds)} traced runs")
    for k in runs[1][0]["per_layer"]:
        print(f"  {k:<44} {statistics.median(r['per_layer'][k] for r in runs[1]):14.4f}")
    print("tracing overhead (traced - untraced, medians)")
    for k in runs[0][0]["end_to_end"]:
        off = statistics.median(r["end_to_end"][k] for r in runs[0])
        on = statistics.median(r["end_to_end"][k] for r in runs[1])
        print(f"  {k:<18} untraced {off:10.4f}  traced {on:10.4f}  "
              f"delta {on - off:+10.4f} ({(on - off) / off:+.1%})")


if __name__ == "__main__":
    main()
