"""Traced-run report for one workload and seed.

    python3 benchmark/report.py --workload log_batch --seed 1 --seconds 10

Runs ``run.py`` three times on the same seed (so on the same inputs), each
in a fresh process: untraced at ``local[nproc]``, traced at
``local[nproc]``, and untraced at ``local[1]`` as the single-threaded
baseline. It writes to ``.bench_work/reports/<workload>-s<seed>/``:

- ``spans.json``     every span of the traced run (name, start, end, parent,
                     cycle id, counters);
- ``counters.json``  the traced run's per-layer metrics, its per-cycle self
                     times and, for ``log_stream``, the streaming progress;
- ``summary.json``   self time per layer (and, apart, in the traced run's
                     rider pass), how the per-layer sum reconciles
                     with the untraced end-to-end number, the tracing
                     overhead (traced minus untraced) and the ``local[1]``
                     baseline. It is also printed.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from gen import TICK_S  # noqa: E402


def run_once(args, trace: int, cpus: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace)]
    if cpus:
        cmd += ["--cpus", str(cpus)]
    subprocess.run(cmd, check=True, stdout=subprocess.DEVNULL)
    nproc = cpus or len(os.sched_getaffinity(0))
    tag = f"{args.workload}-s{args.seed}-t{trace}-c{nproc}"
    with open(os.path.join(".bench_work", "records", f"{tag}.json")) as f:
        return json.load(f)


def median_self_times(traced: dict) -> dict[str, float]:
    per_cycle = list(traced["self_seconds"].values())
    names = sorted({n for c in per_cycle for n in c})
    return {n: statistics.median(c.get(n, 0.0) for c in per_cycle) for n in names}


def summarize(untraced: dict, traced: dict, single: dict) -> dict:
    self_s = median_self_times(traced)
    engine = {n: v for n, v in self_s.items() if not n.startswith("bench.")}
    bench = {n: v for n, v in self_s.items() if n.startswith("bench.")}
    e2e_u, e2e_t = untraced["end_to_end"], traced["end_to_end"]
    layer_sum = sum(engine.values())
    target = e2e_u["latency_p50_s"]
    if "streaming.log_stream.run" in self_s:
        # a group waits out the readiness window, half a replay tick on
        # average, then whole micro-batches until the one that emits it
        from collector_spark.streaming.log_stream import READINESS_MS

        batch_s = traced["per_layer"].get("streaming.log_stream.batch_p50_ms", 0.0) / 1000.0
        floor_s = READINESS_MS / 1000.0 + TICK_S / 2
        recon = {
            "untraced_latency_p50_s": target,
            "readiness_and_tick_s": floor_s,
            "batch_p50_s": batch_s,
            "batches_waited": (target - floor_s) / batch_s if batch_s else None,
            "stream_start_self_s": self_s.get("streaming.log_stream.start", 0.0),
            "stage_build_self_s": {n: v for n, v in engine.items() if n.endswith(".build")},
        }
    else:
        # the traced cycle runs each stage alone on inputs the benchmark
        # materialized, so its spans partition prepare + cycle; bench.*
        # spans are the benchmark's own materialize and count work
        recon = {
            "engine_layer_sum_s": layer_sum,
            "benchmark_spans_s": sum(bench.values()),
            "untraced_latency_p50_s": target,
            "residual_s": target - layer_sum,
        }
    return {
        "workload": untraced["workload"],
        "seed": untraced["seed"],
        "self_seconds": self_s,
        "rider_self_seconds": traced.get("rider_self_seconds", {}),
        "reconciliation": recon,
        "tracing_overhead": {k: e2e_t[k] - e2e_u[k] for k in e2e_u if k in e2e_t},
        "local1_baseline": single["end_to_end"],
        "untraced": e2e_u,
        "traced": e2e_t,
        "correct": all(r["result"]["correct"] for r in (untraced, traced, single)),
        "host": untraced["host"],
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Untraced, traced and local[1] runs of one workload.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    args = ap.parse_args(argv)
    sys.path.insert(0, os.getcwd())

    untraced = run_once(args, 0, 0)
    traced = run_once(args, 1, 0)
    single = run_once(args, 0, 1)

    out = os.path.join(".bench_work", "reports", f"{args.workload}-s{args.seed}")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "spans.json"), "w") as f:
        json.dump(traced["spans"], f, indent=1)
    with open(os.path.join(out, "counters.json"), "w") as f:
        json.dump({"per_layer": traced["per_layer"], "self_seconds": traced["self_seconds"],
                   "stream_progress": traced.get("stream_progress", [])}, f, indent=1)
    summary = summarize(untraced, traced, single)
    with open(os.path.join(out, "summary.json"), "w") as f:
        json.dump(summary, f, indent=1)
    print(json.dumps(summary, indent=1))
    return 0 if summary["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
