#!/usr/bin/env python3
"""Outside-in benchmark of the graft engine. See perfbench/README.md.

    python3 perfbench/run.py --workload serve_cached --seed 1 --seconds 10 --trace 0

Builds the engine from source when needed (perfbench/build.py), runs one
workload in one JVM with one Spark session at local[nproc], checks every
op's output hash, and prints one JSON line last on stdout: the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1. The full
record of the run (per-op rows, host noise evidence, spans of a traced
run) is written under .bench_build/perfbench/. Exits non-zero when an op
fails or returns a wrong result.
"""
import argparse
import hashlib
import json
import os
import re
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

ROOT = build.ROOT
RECORDS = os.path.join(build.OUT, "perfbench")
HERE = os.path.dirname(os.path.abspath(__file__))


def data_root() -> str:
    """$PERFBENCH_DATA, else the tables directory that TESTDATA.md names."""
    if "PERFBENCH_DATA" in os.environ:
        return os.environ["PERFBENCH_DATA"]
    try:
        with open(os.path.join(ROOT, "TESTDATA.md")) as fh:
            m = re.search(r"`([^`]+)/sf0\.1/?`", fh.read())
    except OSError:
        m = None
    if m is None:
        raise SystemExit("perfbench: set PERFBENCH_DATA; TESTDATA.md names no sf0.1 directory")
    return m.group(1)


JVM_TIMEOUT_S = 170
REFERENCE = os.path.join(ROOT, "src/main/scala/graft/pipelines/Reference.scala")


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# --- pinned hashes ------------------------------------------------------

def load_expected():
    with open(os.path.join(HERE, "expected.json")) as fh:
        return json.load(fh)


def serving_source_sha256():
    """sha256 of `Reference.servingSignal`, from its `def` line to the
    method's closing brace."""
    try:
        with open(REFERENCE) as fh:
            lines = fh.read().splitlines()
    except OSError:
        raise SystemExit(f"perfbench: {REFERENCE} not found")
    start = next((i for i, l in enumerate(lines) if "def servingSignal(" in l), None)
    if start is None:
        raise SystemExit("perfbench: Reference.servingSignal not found")
    end = next((i for i in range(start + 1, len(lines)) if lines[i] == "  }"), None)
    if end is None:
        raise SystemExit("perfbench: end of Reference.servingSignal not found")
    return hashlib.sha256("\n".join(lines[start:end + 1]).encode()).hexdigest()


def check_serving_source(expected):
    """`Harness.serving` re-enacts `Reference.servingSignal` call by call, and
    `serve_refit` and every traced run measure that copy. The source of the
    engine's function is pinned so that the copy cannot drift from it: after
    a change to `servingSignal`, bring `Harness.serving` in line and re-pin
    `serving_signal_source_sha256`."""
    got = serving_source_sha256()
    if got != expected["serving_signal_source_sha256"]:
        raise SystemExit(
            "perfbench: Reference.servingSignal changed (sha256 " + got + "); "
            "update Harness.serving to match it, then re-pin "
            "serving_signal_source_sha256 in perfbench/expected.json")


def expected_hash(expected, key, data_dir):
    """`serving_signal` is rows-only (no DuckDB twin) and marked cross-layout
    deterministic by `SparkEntry.crossLayoutDeterministic`, so its
    `Verify.canonicalHash` is pinned per data directory in expected.json."""
    pinned = expected.get(os.path.basename(data_dir), {})
    if key not in pinned:
        raise SystemExit(f"perfbench: no pinned hash for {key} on {data_dir}")
    return pinned[key]


# --- metrics ------------------------------------------------------------

def end_to_end(rec, ops):
    lat = [o["latency_s"] for o in ops]
    return {
        "setup_s": statistics.median(rec["setup_s"]),
        "ops_per_s": len(ops) / rec["window"]["elapsed_s"],
        "latency_p50_s": statistics.median(lat),
        "cpu_s_per_op": rec["window"]["process_cpu_s"] / len(ops),
        "peak_rss_mb": rec["peak_rss_mb"],
    }


def per_layer(rec, ops, names):
    """Median per op of each layer field."""
    def med(field):
        return statistics.median(float(o.get(field, 0.0)) for o in ops)
    derived = {
        "jvm.non_task_cpu_s": statistics.median(
            o["cpu_s"] - o.get("executor.cpu_s", 0.0) for o in ops),
        "host.steal_pct": rec["host"]["steal_pct"],
        "host.iowait_pct": rec["host"]["iowait_pct"],
        "trace.latency_p50_s": statistics.median(o["latency_s"] for o in ops),
    }
    return {n: derived[n] if n in derived else med(n) for n in names}


# --- the run ------------------------------------------------------------

def untraced_baseline(path, stamp):
    """`latency_p50_s` of the untraced run of the same workload, scale and
    seed, if it ran on the same build and cores and every op passed."""
    try:
        with open(path) as fh:
            base = json.load(fh)
    except (OSError, ValueError):
        return None
    if (base.get("build_stamp"), base.get("nproc"), base.get("failed")) != (stamp, nproc(), 0):
        return None
    return base["end_to_end"]["latency_p50_s"]


def main():
    spec = load_spec()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="run on the sf0.001 tables instead of sf0.1")
    ap.add_argument("--inject", choices=("throw", "wrong"),
                    help="make the first op fail (self-test)")
    args = ap.parse_args()

    e2e_names = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer_names = {m["name"]: m["unit"] for m in spec["per_layer"]}
    expected = load_expected()
    check_serving_source(expected)
    stamp = build.build()
    data_dir = os.path.join(data_root(), "sf0.001" if args.smoke else "sf0.1")
    if not os.path.exists(os.path.join(data_dir, "events.parquet")):
        raise SystemExit(f"perfbench: no tables under {data_dir}")

    want = expected_hash(expected, "serving_signal", data_dir)

    os.makedirs(RECORDS, exist_ok=True)
    sf = os.path.basename(data_dir)
    base = f"{args.workload}-{sf}-seed{args.seed}"
    tag = f"{base}-trace{args.trace}"
    raw = os.path.join(RECORDS, f"{tag}.raw.json")
    cmd = build.harness_cmd([
        "--workload", args.workload, "--data", data_dir,
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--cores", str(nproc()), "--out", raw]
        + (["--inject", args.inject] if args.inject else []))
    if os.path.exists(raw):
        os.remove(raw)
    t0 = time.time()
    log_path = os.path.join(RECORDS, f"{tag}.log")
    with open(log_path, "w") as log:
        try:
            rc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                                cwd=build.OUT, timeout=JVM_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    if rc != 0 or not os.path.exists(raw):
        raise SystemExit(f"perfbench: harness exited {rc}; see {log_path}")
    with open(raw) as fh:
        rec = json.load(fh)
    os.remove(raw)

    ops = rec["ops"]
    failed = 0
    for o in ops:
        o["ok"] = o["error"] is None and o["hash"] == want
        if not o["ok"]:
            failed += 1
            print(f"[perfbench] FAIL op: {o['error'] or o['hash'] + ' != ' + want}",
                  file=sys.stderr)
    e2e = end_to_end(rec, ops)
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "data": data_dir, "nproc": nproc(), "build_stamp": stamp,
        "attempted": len(ops), "failed": failed,
        "fail_ratio": failed / len(ops),
        "host": rec["host"], "context_start_s": rec["context_start_s"],
        "setup_rounds_s": rec["setup_s"], "wall_s": time.time() - t0,
        "end_to_end": e2e, "ops": ops,
    }
    if args.trace:
        layers = per_layer(rec, ops, layer_names)
        record["per_layer"] = layers
        record["self_time_s_per_op"] = rec["self_time_s_per_op"]
        record["spans"] = rec["spans"]
        p50 = untraced_baseline(os.path.join(RECORDS, f"{base}-trace0.json"), stamp)
        if p50 is not None:
            record["tracing_overhead_s"] = layers["trace.latency_p50_s"] - p50
            record["signal_span_over_untraced_p50"] = layers["pipelines.signal_s"] / p50
        metrics = {n: {"value": layers[n], "unit": layer_names[n]} for n in layer_names}
    else:
        metrics = {n: {"value": e2e[n], "unit": e2e_names[n]} for n in e2e_names}
    with open(os.path.join(RECORDS, f"{tag}.json"), "w") as fh:
        json.dump(record, fh, indent=1)

    print(f"[perfbench] {tag}: {len(ops)} ops, {failed} failed, nproc {nproc()}, "
          f"steal {rec['host']['steal_pct']:.2f}%, "
          f"iowait {rec['host']['iowait_pct']:.2f}%", file=sys.stderr)
    for n, v in e2e.items():
        print(f"[perfbench]   {n} = {v}", file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": len(ops),
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
