#!/usr/bin/env python3
"""Compare sets of benchmark runs.

    python3 perfbench/compare.py RUNS_A.jsonl [RUNS_B.jsonl]

Each file holds the records `perfbench/run.py` appends (one JSON object per
run; the default file is .perfbench/results/runs.jsonl). For every
workload x end-to-end metric it prints the median and quartiles of each
set and the spread (Q3 - Q1) / median, as `statistics.quantiles(n=4)`
gives them. With a baseline set A and a candidate set B it also prints
B's median against A's and flags metrics that got worse by more than the
bound in BENCHMARK.json.

Drift guard: every run times `control.catalyst_scan_ms`, a fixed
plain-Spark aggregate that runs no graft code, at its start, middle and
end. When the control's median moves by more than 15% between the two
sets, the machine changed between them and the comparison is flagged.
"""
import json
import os
import statistics
import sys

DRIFT = 0.15
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(path):
    runs = []
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line:
                r = json.loads(line)
                if r.get("trace") == 0:
                    runs.append(r)
    return runs


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return {m["name"]: m for m in b["end_to_end"]}


def quart(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def by_workload(runs):
    out = {}
    for r in runs:
        out.setdefault(r["workload"], []).append(r)
    return out


def control_median(runs):
    return statistics.median(c for r in runs for c in r["control_ms"])


def main(argv):
    if len(argv) not in (2, 3):
        print(__doc__)
        return 2
    metrics = spec()
    a = by_workload(load(argv[1]))
    b = by_workload(load(argv[2])) if len(argv) == 3 else {}
    worse = 0
    for wl in sorted(set(a) | set(b)):
        ra, rb = a.get(wl, []), b.get(wl, [])
        print(f"== {wl}: {len(ra)} runs" + (f" vs {len(rb)} runs" if b else ""))
        if ra and rb:
            ca, cb = control_median(ra), control_median(rb)
            moved = cb / ca - 1
            flag = "  DRIFT: the machine moved" if abs(moved) > DRIFT else ""
            print(f"   control.catalyst_scan_ms {ca:.1f} -> {cb:.1f} ms ({moved:+.1%}){flag}")
        for name, m in metrics.items():
            row = f"   {name:<22}"
            meds = []
            for runs in (ra, rb):
                if not runs:
                    continue
                xs = [r["metrics"][name]["value"] for r in runs if name in r["metrics"]]
                q1, q2, q3 = quart(xs)
                meds.append(q2)
                row += f" | med {q2:12.4f} q1 {q1:12.4f} q3 {q3:12.4f} spread {(q3 - q1) / q2:6.1%}"
            if len(meds) == 2:
                delta = meds[1] / meds[0] - 1
                bad = delta > m["bound"] if m["better"] == "lower" else -delta > m["bound"]
                worse += bad
                row += f" | {delta:+.1%}" + (f"  WORSE than bound {m['bound']:.0%}" if bad else "")
            else:
                row += f" (bound {m['bound']:.0%})"
            print(row + f" {m['unit']}")
    return 1 if worse else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
