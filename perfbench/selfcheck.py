#!/usr/bin/env python3
"""Fast self-check of the benchmark.

    python3 perfbench/selfcheck.py [workload ...]

Runs every workload's op list once (one untraced pass, then a traced run
of one untraced and one traced pass) on the sf0.001 tables in
perfbench/data/, and confirms that run.py prints every end-to-end metric
(--trace 0) and every per-layer metric (--trace 1) of BENCHMARK.json by
name with its unit, and that every op's result passes its check. Exits 1
on any mismatch. Takes a few minutes; the host probes are skipped.
"""
import json
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH)


def main(argv):
    spec = json.load(open(os.path.join(REPO, "BENCHMARK.json")))
    expected = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
                1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    problems = []
    for name in argv or [w["name"] for w in spec["workloads"]]:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", name,
                   "--seed", "7", "--seconds", "0", "--trace", str(trace),
                   "--data", "sf0.001", "--passes", "1", "--no-probes"]
            p = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                problems.append(f"{name} trace={trace}: exit {p.returncode}\n"
                                f"{p.stderr[-2000:]}")
                continue
            res = json.loads(lines[-1])
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != expected[trace]:
                missing = sorted(set(expected[trace]) - set(got))
                extra = sorted(set(got) - set(expected[trace]))
                problems.append(f"{name} trace={trace}: metrics missing {missing}, "
                                f"unexpected {extra}, or units differ")
            if not res["correct"] or res["failed"]:
                problems.append(f"{name} trace={trace}: check failed: {lines[-2][:2000]}")
            print(f"{name} trace={trace}: {len(got)} metrics, "
                  f"{res['attempted']} ops attempted, {res['failed']} failed")
    for p in problems:
        print("PROBLEM:", p)
    print("selfcheck", "FAILED" if problems else "ok")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
