"""Median and quartile spread of each metric over a set of runs.

    python3 perfbench/spread.py RESULT_FILE...

Each file holds one run's stdout (its last line is the result object). For
every metric it prints the median and (Q3 - Q1) / median, with quartiles as
`statistics.quantiles(values, n=4)` gives them, and writes nothing.
"""
import json
import statistics
import sys


def load(path):
    with open(path) as f:
        return json.loads(f.read().strip().splitlines()[-1])


def summary(paths):
    runs = [load(p) for p in paths]
    out = {"runs": len(runs), "all_correct": all(r["correct"] for r in runs),
           "failed": sum(r["failed"] for r in runs), "metrics": {}}
    for name in runs[0]["metrics"]:
        values = [r["metrics"][name]["value"] for r in runs]
        q1, _, q3 = statistics.quantiles(values, n=4)
        med = statistics.median(values)
        out["metrics"][name] = {"median": med, "spread": (q3 - q1) / med if med else 0.0,
                                "unit": runs[0]["metrics"][name]["unit"]}
    return out


if __name__ == "__main__":
    print(json.dumps(summary(sys.argv[1:]), indent=1))
