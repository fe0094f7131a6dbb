"""Median, quartiles and spread of each metric over saved benchmark outputs.

    python3 perfbench/summarize.py out/small-dup-*.out

Each file holds the stdout of one run of perfbench/run.py; its last line is
the result object. Runs whose checks failed are counted and left out. The
spread is the inter-quartile distance as a share of the median, the figure
BENCHMARK.json's bounds are compared with.
"""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import spans as sp  # noqa: E402


def main(paths):
    results = [json.loads(open(p).read().strip().splitlines()[-1]) for p in paths]
    good = [r["metrics"] for r in results if r["correct"]]
    print(f"{len(good)} correct of {len(results)} runs")
    for name in (good[0] if good else {}):
        values = [m[name]["value"] for m in good]
        q1, q2, q3 = sp.quartiles(values)
        print(f"{name:40s} median {q2:.6g}  q1 {q1:.6g}  q3 {q3:.6g}  "
              f"spread {sp.spread(values):.4f}  {good[0][name]['unit']}")


if __name__ == "__main__":
    main(sys.argv[1:])
