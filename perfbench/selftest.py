#!/usr/bin/env python3
"""Self-test of the benchmark itself (not of graft). Run from the root of
a graft checkout:

    python3 perfbench/selftest.py

1. A smoke run of every workload at 1% of the default data size, with
   tracing off and on: each must exit 0 with `correct: true`, `failed: 0`
   and every metric BENCHMARK.json names for that mode; serve_bulk's timed
   join must read the lineitem and orders handles, not generated frames.
2. The checkers must catch wrong answers: with `--inject-wrong 3` every
   third measured answer that can be altered (a row's fields shifted, a
   key dropped, a count off by one) reaches its checker altered, and the
   run must report `correct: false` with one failure per altered answer.
3. In a directory that holds only BENCHMARK.json and the benchmark's own
   files, the benchmark must exit non-zero without printing a result.
"""
import json
import os
import re
import shutil
import subprocess
import sys

ROOT = os.getcwd()
BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def run(args, cwd=ROOT, timeout=900):
    p = subprocess.run([sys.executable, "perfbench/run.py"] + args, cwd=cwd,
                       capture_output=True, text=True, timeout=timeout)
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
    try:
        res = json.loads(last)
    except ValueError:
        res = None
    return p.returncode, res, p.stdout + p.stderr


def main():
    fails = []

    def check(ok, what):
        print(("ok   " if ok else "FAIL ") + what, flush=True)
        if not ok:
            fails.append(what)

    record = os.path.join(ROOT, ".perfbench", "selftest", "runs.jsonl")
    for w in BENCH["workloads"]:
        for trace in (0, 1):
            want = {m["name"] for m in BENCH["per_layer" if trace else "end_to_end"]}
            code, res, out = run(["--workload", w["name"], "--seed", "7", "--seconds", "1",
                                  "--trace", str(trace), "--scale", "0.01",
                                  "--record", record])
            check(code == 0 and res is not None and res["correct"] and res["failed"] == 0
                  and res["attempted"] >= 1 and set(res["metrics"]) == want,
                  f"smoke {w['name']} trace {trace}")
            if w["name"] == "serve_bulk" and trace == 0:
                check("cold join reads: CompositeRelation, IndexedRelation" in out,
                      "the timed cold join reads the two graft handles")

    first = BENCH["workloads"][0]["name"]
    code, res, out = run(["--workload", first, "--seed", "7", "--seconds", "1",
                          "--trace", "0", "--scale", "0.01", "--inject-wrong", "3",
                          "--record", record])
    m = re.search(r"injected wrong (\d+)\)", out)
    n = int(m.group(1)) if m else 0
    check(code == 0 and res is not None and not res["correct"] and n >= 1
          and res["failed"] == n and "WRONG ANSWER" in out,
          "checkers catch every injected wrong answer")

    bare = os.path.join(ROOT, ".perfbench", "selftest", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    for p in BENCH["paths"]:
        shutil.copytree(os.path.join(ROOT, p), os.path.join(bare, p),
                        ignore=shutil.ignore_patterns("target"))
    code, res, _ = run(["--workload", first, "--seed", "1", "--seconds", "1",
                        "--trace", "0"], cwd=bare, timeout=180)
    check(code != 0 and res is None, "refuses to run without graft sources")
    shutil.rmtree(bare, ignore_errors=True)

    print(f"{len(fails)} failed" if fails else "all passed")
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
