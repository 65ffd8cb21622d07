#!/usr/bin/env python3
"""Smoke test of the benchmark on the smallest data set.

    python3 perfbench/selftest.py [--data DIR]

Runs every workload of BENCHMARK.json once untraced and once traced, for
one second of measuring each, and fails if a run fails, reports a failed
or wrong result, or leaves out a metric BENCHMARK.json names (or gives
it another unit).
"""
import argparse
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--data", default=os.path.join(os.path.expanduser("~"), "testdata", "sf0.001"),
                    help="the smallest tables of the project's test data (default %(default)s)")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    problems = []
    for w in spec["workloads"]:
        for trace, wanted in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            cmd = spec["command"] + ["--workload", w["name"], "--seed", "1",
                                     "--seconds", "1", "--trace", str(trace),
                                     "--data", a.data]
            p = subprocess.run(cmd, cwd=ROOT, stdin=subprocess.DEVNULL,
                               stdout=subprocess.PIPE, text=True)
            run = f"{w['name']} --trace {trace}"
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                problems.append(f"{run}: exit code {p.returncode}")
                continue
            res = json.loads(lines[-1])
            if not res["correct"] or res["failed"]:
                problems.append(f"{run}: {res['failed']} of {res['attempted']} failed")
            for m in wanted:
                got = res["metrics"].get(m["name"])
                if got is None:
                    problems.append(f"{run}: metric {m['name']} missing")
                elif got["unit"] != m["unit"]:
                    problems.append(f"{run}: metric {m['name']} in {got['unit']}, not {m['unit']}")
            extra = set(res["metrics"]) - {m["name"] for m in wanted}
            if extra:
                problems.append(f"{run}: metrics not in BENCHMARK.json: {sorted(extra)}")
            print(f"{run}: {res['attempted']} attempted, {res['failed']} failed, "
                  f"{len(res['metrics'])} metrics", flush=True)
    for pr in problems:
        print("FAIL", pr)
    print("selftest:", "FAIL" if problems else "ok")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
