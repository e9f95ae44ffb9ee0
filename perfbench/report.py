#!/usr/bin/env python3
"""Traced-run artifact: the per-module table and the tracing overhead.

Usage (from the root of a checkout):

    python3 perfbench/report.py --out perfbench/results/trace.json

For every workload and each of three seeds it runs the benchmark for
BENCHMARK.json's `run_seconds`, untraced and traced,
alternating which goes first, and writes one JSON file: the medians of
the end-to-end metrics of both kinds of run, the tracing overhead
(traced minus untraced `pass_s` and `p50_ms`), the per-layer metrics of
the traced runs with the per-module table drawn from them, and each
run's host contention record (load1 before and after, steal delta).
"""
import argparse
import json
import os
import platform
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
SEEDS = (1, 2, 3)
MODULE_FIELDS = ["wall_s", "driver_s", "task_cpu_s", "shuffle_write_mb", "spill_mb", "jobs"]


def run(workload, seed, seconds, trace):
    r = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        stdout=subprocess.PIPE, text=True, check=True)
    detail, result = [json.loads(x) for x in r.stdout.strip().splitlines()[-2:]]
    return detail["detail"], result


def medians(rows):
    return {k: statistics.median(r[k] for r in rows) for k in rows[0]}


def cpu_model():
    try:
        with open("/proc/cpuinfo") as f:
            for line in f:
                if line.startswith("model name"):
                    return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return platform.processor()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    seconds = spec["run_seconds"]
    report = {"hardware": {"cpu": cpu_model(), "cores": os.cpu_count()},
              "seconds": seconds, "seeds": list(SEEDS), "workloads": {}}
    for w in [x["name"] for x in spec["workloads"]]:
        untraced, traced, runs = [], [], []
        for i, seed in enumerate(SEEDS):
            for trace in ([0, 1] if i % 2 == 0 else [1, 0]):
                detail, result = run(w, seed, seconds, trace)
                (traced if trace else untraced).append(detail)
                runs.append({"seed": seed, "trace": trace, "host": detail["host"],
                             "correct": result["correct"], "failed": result["failed"],
                             "end_to_end": detail["end_to_end"]})
                print(f"[report] {w} seed {seed} trace {trace}: "
                      f"pass_s {detail['end_to_end']['pass_s']:.3f}", file=sys.stderr)
        off = medians([d["end_to_end"] for d in untraced])
        on = medians([d["end_to_end"] for d in traced])
        layers = medians([d["per_layer"] for d in traced])
        modules = sorted({k.rsplit(".", 1)[0] for k in layers
                          if k.rsplit(".", 1)[-1] in MODULE_FIELDS and "." in k})
        report["workloads"][w] = {
            "untraced": off,
            "traced": on,
            "tracing_overhead": {
                m: {"value": on[m] - off[m], "share": (on[m] - off[m]) / off[m]}
                for m in ("pass_s", "p50_ms")},
            "modules": {m: {f: layers[f"{m}.{f}"] for f in MODULE_FIELDS} for m in modules},
            "per_layer": layers,
            "runs": runs,
        }
    os.makedirs(os.path.dirname(os.path.abspath(a.out)), exist_ok=True)
    with open(a.out, "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
