#!/usr/bin/env python3
"""Self-test of the benchmark at sf0.001, one round per run.

    python3 perfbench/selftest.py [workload ...]

Checks that
  * every metric BENCHMARK.json names prints with its unit, and the line
    before the result gives its sample count (untraced and traced runs);
  * a corrupted expected answer is counted as a failure;
  * two generations with the same seed give identical statement lists,
    and different seeds different ones.
Exits non-zero on the first check that does not hold.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import workloads  # noqa: E402


def run(workload, seed, trace, *extra):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
           "--sf", "0.001", *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-3000:])
        raise SystemExit(f"FAIL: {' '.join(cmd)} exited {p.returncode}")
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def expect(cond, what):
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        raise SystemExit(1)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = sys.argv[1:] or [w["name"] for w in bench["workloads"]]
    sizes = {"supplier": 10, "customer": 150, "part": 200, "orders": 1500,
             "lineitem": 6000}

    for w in names:
        a = workloads.generate(w, 7, sizes, 3)
        expect(a == workloads.generate(w, 7, sizes, 3), f"{w}: same seed, same statements")
        expect(a != workloads.generate(w, 8, sizes, 3), f"{w}: other seed, other statements")

    for w in names:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            head, res = run(w, 1, trace)
            expect(head["seed"] == 1, f"{w} trace={trace}: output records the seed")
            expect(res["correct"] and res["failed"] == 0,
                   f"{w} trace={trace}: every answer matches the oracle")
            for m in bench[key]:
                got = res["metrics"].get(m["name"])
                expect(got is not None and got["unit"] == m["unit"]
                       and isinstance(got["value"], (int, float))
                       and head["samples"].get(m["name"], 0) >= 1,
                       f"{w} trace={trace}: {m['name']} = {got} [{m['unit']}], "
                       f"{head['samples'].get(m['name'])} samples")

    w = names[0]
    _, res = run(w, 1, 0, "--corrupt-oracle")
    expect(not res["correct"] and res["failed"] == res["attempted"]
           and res["metrics"]["ok_ratio"]["value"] < 1.0,
           f"{w}: a corrupted expected answer is a failure "
           f"({res['failed']}/{res['attempted']} failed)")
    print("selftest passed")


if __name__ == "__main__":
    main()
