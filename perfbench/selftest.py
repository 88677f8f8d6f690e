#!/usr/bin/env python3
"""Self-test of the benchmark in smoke mode (the sf0.001 tables).

    python3 perfbench/selftest.py

Checks that
  - every workload prints every end-to-end metric of BENCHMARK.json with
    --trace 0, and every per-layer metric with --trace 1, with its unit;
  - an op forced to throw, and an op forced to return a wrong hash, each
    count as failed, and the run then exits non-zero;
  - the serving spans account for the untraced serving latency within the
    bound of latency_p50_s.
Exits non-zero on the first check that fails.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RECORDS = os.path.join(ROOT, ".bench_build", "perfbench")


def run(workload, trace, *extra):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--smoke",
           "--workload", workload, "--seed", "1", "--seconds", "1",
           "--trace", str(trace), *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if not lines:
        sys.exit(f"FAIL {workload} trace {trace} {extra}: no output\n{p.stderr[-2000:]}")
    return p.returncode, json.loads(lines[-1])


def check(cond, msg):
    print(("ok   " if cond else "FAIL ") + msg)
    if not cond:
        sys.exit(1)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
             1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    for wl in (w["name"] for w in spec["workloads"]):
        for trace in (0, 1):
            rc, out = run(wl, trace)
            check(rc == 0 and out["correct"] and out["failed"] == 0
                  and out["attempted"] >= 1, f"{wl} trace {trace}: all ops correct")
            check(set(out) == {"correct", "attempted", "failed", "metrics"},
                  f"{wl} trace {trace}: result keys")
            got = {n: m["unit"] for n, m in out["metrics"].items()}
            check(got == names[trace], f"{wl} trace {trace}: every metric named with its unit")
            check(all(isinstance(m["value"], (int, float)) for m in out["metrics"].values()),
                  f"{wl} trace {trace}: every value is a number")

    # the untraced run of the same seed and build ran just before the traced one
    bound = {m["name"]: m["bound"] for m in spec["end_to_end"]}["latency_p50_s"]
    with open(os.path.join(RECORDS, "serve_cached-sf0.001-seed1-trace1.json")) as fh:
        traced = json.load(fh)
    check("signal_span_over_untraced_p50" in traced and traced["self_time_s_per_op"],
          "traced record holds the span ratio and the self time per layer")
    share = traced["signal_span_over_untraced_p50"]
    check(abs(share - 1.0) <= bound,
          f"serving spans / untraced p50 = {share:.3f}, within 1 ± {bound}")

    for how in ("throw", "wrong"):
        rc, out = run("serve_cached", 0, "--inject", how)
        with open(os.path.join(RECORDS, "serve_cached-sf0.001-seed1-trace0.json")) as fh:
            ratio = json.load(fh)["fail_ratio"]
        check(rc != 0 and not out["correct"] and out["failed"] >= 1 and ratio > 0,
              f"forced {how}: failed {out['failed']} of {out['attempted']}, "
              f"fail_ratio {ratio:.3f}, exit {rc}")


if __name__ == "__main__":
    main()
