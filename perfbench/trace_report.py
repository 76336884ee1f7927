#!/usr/bin/env python3
"""Traced-run report: span dump, per-operation self times, tracing overhead.

    python3 perfbench/trace_report.py --workload <name> --seed <n> [--seconds 10]

Runs the workload untraced and then traced with the same seed, and prints:
  * where the span dump of the traced run is (three levels: operation,
    layer call, Spark job; one JSON list, written once at run end);
  * per operation, each layer's self time, the time covered by Spark jobs
    inside layer calls, and the `unattributed` remainder — these add up
    to the operation's wall, which the report checks;
  * the tracing overhead: untraced against traced throughput
    (requests_per_s), as a share.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True)
    if p.returncode != 0:
        sys.exit(p.stderr[-2000:])
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    return json.loads(lines[-2])["detail"], json.loads(lines[-1])


def layer_table(report):
    """Sum of self times per layer (the span name's module part) over all
    operations, in ms."""
    tot = {}
    for r in report:
        for k, v in r["self_ms"].items():
            layer = k if k in ("spark.job", "unattributed") else k.split(".")[0]
            tot[layer] = tot.get(layer, 0.0) + v
    return tot


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    a = ap.parse_args()
    sys.path.insert(0, HERE)
    import metrics
    import run as bench_run
    untraced_detail, untraced = run(a.workload, a.seed, a.seconds, 0)
    traced_detail, traced = run(a.workload, a.seed, a.seconds, 1)
    out = os.path.join(bench_run.build_dir(), "runs", f"{a.workload}-{a.seed}-t1")
    result = json.load(open(os.path.join(out, "result.json")))
    report = json.load(open(os.path.join(out, "self_time.json")))
    print(f"span dump: {os.path.join(out, 'spans.json')}")
    print(f"per-operation self times: {os.path.join(out, 'self_time.json')}")
    worst = max(abs(sum(r["self_ms"].values()) - r["wall_ms"]) for r in report) if report else 0
    print(f"{len(report)} operations; largest |sum of parts - wall| = {worst:.6f} ms")
    print("\nself time by layer, summed over operations (ms; per call in self_time.json):")
    for k, v in sorted(layer_table(report).items(), key=lambda kv: -kv[1]):
        print(f"  {k:40s} {v:12.1f}")
    print("\nper-layer metrics (traced run):")
    for k, v in traced["metrics"].items():
        print(f"  {k:40s} {v['value']:14.4f} {v['unit']}")
    u = untraced["metrics"]["requests_per_s"]["value"]
    t = metrics.end_to_end(result)["requests_per_s"][0]
    print(f"\ntracing overhead ({a.workload}): untraced {u:.4f} 1/s, traced {t:.4f} 1/s, "
          f"overhead {u / t - 1:+.1%} of traced throughput")


if __name__ == "__main__":
    main()
