#!/usr/bin/env python3
"""Compare two result sets of the benchmark, parent against change.

    python3 perfbench/compare.py PARENT CHANGE [--spec BENCHMARK.json]

PARENT and CHANGE are directories holding run.py's results/<workload>.jsonl
files (or single .jsonl files). The i-th untraced run of a workload on one
side is paired with the i-th on the other, so measure the pairs back to
back, alternating which side runs first. For each workload and end-to-end
metric it prints the medians, quartile spreads and the verdict of
lib.decide under the metric's bound in BENCHMARK.json. A workload whose
change runs fail more operations than the parent's cannot claim a gain.
Exits 1 when any pairing is a regression.
"""
import argparse
import glob
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import lib  # noqa: E402


def load(path):
    files = [path] if os.path.isfile(path) else sorted(
        glob.glob(os.path.join(path, "*.jsonl")))
    runs = {}
    for f in files:
        with open(f) as fh:
            for line in fh:
                r = json.loads(line)
                if r["stamp"]["trace"] == 0:
                    runs.setdefault(r["stamp"]["workload"], []).append(r)
    return runs


def compare(parent, change, spec):
    rows, regressed = [], False
    for wl in sorted(set(parent) & set(change)):
        p_runs, c_runs = parent[wl], change[wl]
        more_failures = (sum(r["failed"] for r in c_runs) >
                         sum(r["failed"] for r in p_runs))
        for m in spec["end_to_end"]:
            p = [r["metrics"][m["name"]]["value"] for r in p_runs]
            c = [r["metrics"][m["name"]]["value"] for r in c_runs]
            verdict = lib.decide(p, c, m["bound"], m["better"] == "lower")
            if verdict == "better" and more_failures:
                verdict = "no gain (more failures)"
            regressed |= verdict == "regression"
            rows.append((wl, m["name"], m["unit"], len(p), len(c),
                         statistics.median(p), statistics.median(c),
                         lib.iqr_share(p) if len(p) > 1 else float("nan"),
                         lib.iqr_share(c) if len(c) > 1 else float("nan"),
                         m["bound"], verdict))
    return rows, regressed


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--spec", default="BENCHMARK.json")
    a = ap.parse_args()
    with open(a.spec) as f:
        spec = json.load(f)
    rows, regressed = compare(load(a.parent), load(a.change), spec)
    print(f"{'workload':14} {'metric':18} {'n':>5} {'parent':>11} {'change':>11} "
          f"{'iqr_p':>6} {'iqr_c':>6} {'bound':>5}  verdict")
    for wl, name, unit, np_, nc, mp, mc, ip, ic, bound, v in rows:
        print(f"{wl:14} {name:18} {np_:>2}/{nc:<2} {mp:>11.4g} {mc:>11.4g} "
              f"{ip:>6.3f} {ic:>6.3f} {bound:>5}  {v}  [{unit}]")
    sys.exit(1 if regressed else 0)


if __name__ == "__main__":
    main()
