#!/usr/bin/env python3
"""The benchmark's own test: every workload at its smoke size, untraced and
traced, must pass its output checks and print every declared metric.

    python3 perfbench/smoke_test.py [workload ...]
"""
import json
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    names = sys.argv[1:] or [w["name"] for w in spec["workloads"]]
    bad = 0
    for name in names:
        for trace, group in (("0", "end_to_end"), ("1", "per_layer")):
            p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", name,
                                "--seed", "1", "--seconds", "2", "--trace", trace, "--smoke"],
                               cwd=ROOT, capture_output=True, text=True)
            lines = p.stdout.strip().splitlines()
            try:
                r = json.loads(lines[-1])
                want = {m["name"]: m["unit"] for m in spec[group]}
                got = {k: v["unit"] for k, v in r["metrics"].items()}
                ok = p.returncode == 0 and r["correct"] and r["failed"] == 0 and got == want
            except (IndexError, ValueError, KeyError) as e:
                ok, r = False, {"error": repr(e), "stderr": p.stderr[-2000:]}
            print("%-16s trace=%s %s" % (name, trace, "ok" if ok else "FAILED %s" % r), flush=True)
            bad += not ok
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
