#!/usr/bin/env python3
"""Self-test of the benchmark: every workload once at sf0.001, untraced and traced.

    python3 perfbench/selftest.py

Checks that each run prints every metric BENCHMARK.json names (end-to-end
untraced, per-layer traced) with its unit, that no operation failed
(`ok_rate` is 1, `failed` is 0), and that the layers' wall times add up
to the traced iteration's wall, measured apart from the tracer: attribution
that counts a millisecond twice, or drops one, fails it. Exits 1 on the
first failed check.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SF = "0.001"


def run(workload, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--sf", SF]
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True, timeout=900)
    if r.returncode != 0:
        sys.exit(f"FAIL {workload} trace={trace}: run.py exited {r.returncode}")
    lines = r.stdout.strip().splitlines()
    return json.loads(lines[-2])["stamp"], json.loads(lines[-1])


def check(cond, what):
    print(("ok   " if cond else "FAIL ") + what)
    if not cond:
        sys.exit(1)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    layers = sorted({m["name"].rsplit(".", 1)[0] for m in spec["per_layer"]
                     if m["name"].endswith(".job_s")})
    for w in (x["name"] for x in spec["workloads"]):
        for trace, names in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            stamp, res = run(w, trace)
            got = res["metrics"]
            missing = [m["name"] for m in names
                       if m["name"] not in got or got[m["name"]]["unit"] != m["unit"]]
            check(not missing, f"{w} trace={trace}: every metric printed with its unit"
                  + (f", missing {missing}" if missing else ""))
            check(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1,
                  f"{w} trace={trace}: {res['attempted']} operations, none failed")
            if trace == 0:
                check(got["ok_rate"]["value"] == 1.0, f"{w}: ok_rate is 1")
            else:
                total = sum(got[f"{l}.s"]["value"] for l in layers)
                wall = stamp["traced_iteration_s"]
                # each span's wall is whole milliseconds of another clock
                check(abs(total - wall) <= 0.02 + 0.01 * wall,
                      f"{w}: layer .s sum to {total:.3f} s, traced iteration {wall:.3f} s")


if __name__ == "__main__":
    main()
