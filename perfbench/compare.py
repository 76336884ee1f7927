#!/usr/bin/env python3
"""Parent-versus-change comparison of two checkouts with the same benchmark.

    python3 perfbench/compare.py --parent <checkout> --change <checkout>
        [--workloads floor,prep] [--pairs 10] [--seed 1000] [--seconds 10]
    python3 perfbench/compare.py --load pairs.json     # re-analyse saved runs

Each pair runs one seed on both checkouts, alternating which side runs
first.  Per workload and metric the report gives each side's median and
quartiles, the share of all pairs run that the change won (ties count for
neither; a pair where one side errored or lacks the metric is won by the
other side), and a verdict:

  better      the change won at least 9/10 of the pairs, the medians
              differ by more than the parent's own quartile spread, and
              the change failed no larger share of its operations than
              the parent (else the verdict is `same`, marked as such);
  worse       the change's median is worse than the parent's by more than
              the metric's bound;
  unresolved  the parent's quartile spread, as a share of its median, is
              wider than the bound (unless every change run beat every
              parent run);
  same        otherwise.

Gated metrics use their bounds from BENCHMARK.json; the workload figures
of the detail line use DETAIL_BOUND.  The failed shares of both sides are
reported per workload; a run that errored counts as attempted and failed.
Both checkouts must hold the same perfbench/.
"""
import argparse
import hashlib
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
DETAIL_BOUND = 0.10
# detail figures where lower is better (times, sizes, failures); rates
# (`*_per_s`) and every other figure are better higher
LOWER = ("_ms", "_s", "_mb", "failed_frac")
SKIP = {"ops", "seed", "workload", "failed_checks", "failed_ops", "query_tail_pct",
        "search_tail_pct"}


def bench_digest(checkout):
    h = hashlib.sha256()
    root = os.path.join(checkout, "perfbench")
    for dp, dn, fn in os.walk(root):
        dn[:] = sorted(d for d in dn if d not in ("__pycache__", "target", "project"))
        for f in sorted(fn):
            p = os.path.join(dp, f)
            h.update(os.path.relpath(p, root).encode())
            h.update(open(p, "rb").read())
    return h.hexdigest()


def run_once(checkout, workload, seed, seconds):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=checkout, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if p.returncode != 0 or len(lines) < 2:
        return {"error": (p.stderr or p.stdout)[-500:]}
    return {"detail": json.loads(lines[-2])["detail"], "result": json.loads(lines[-1])}


def quartiles(xs):
    if len(xs) < 2:
        return (xs[0], xs[0], xs[0]) if xs else (None, None, None)
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def flatten(run):
    """metric -> value of one run: gated metrics and numeric detail figures."""
    out = {}
    if "error" in run:
        return out
    for k, v in run["result"]["metrics"].items():
        out[k] = v["value"]
    for k, v in run["detail"].items():
        if k not in SKIP and isinstance(v, (int, float)):
            out[f"detail:{k}"] = v
    return out


def verdict(par, chg, higher_better, bound, fails_more=False):
    """(verdict, share won by the change) for one metric over all pairs run;
    None stands for a run that errored or lacks the metric."""
    ps = [p for p in par if p is not None]
    cs = [c for c in chg if c is not None]
    if not ps or not cs:
        return "no data", 0.0
    won = sum(1 for p, c in zip(par, chg)
              if c is not None and (p is None or (c > p if higher_better else c < p)))
    share = won / len(par)
    pq1, pmed, pq3 = quartiles(ps)
    _, cmed, _ = quartiles(cs)
    spread = 0.0 if pq3 == pq1 else (pq3 - pq1) / abs(pmed) if pmed else float("inf")
    diff = (cmed - pmed) if higher_better else (pmed - cmed)  # > 0: change better
    all_better = min(cs) > max(ps) if higher_better else max(cs) < min(ps)
    if share >= 0.9 and diff > (pq3 - pq1):
        return ("same (change fails more)" if fails_more else "better"), share
    if pmed and -diff / abs(pmed) > bound:
        return "worse", share
    if spread > bound and not all_better:
        return "unresolved", share
    return "same", share


def report(pairs, bench):
    gated = {m["name"]: m for m in bench["end_to_end"]}
    for wl in sorted({p["workload"] for p in pairs}):
        rows = [p for p in pairs if p["workload"] == wl]
        print(f"\n== {wl}: {len(rows)} pairs (seeds {rows[0]['seed']}..{rows[-1]['seed']})")
        failed_share = {}
        for side in ("parent", "change"):
            errs = sum(1 for r in rows if "error" in r[side])
            att = errs + sum(r[side]["result"]["attempted"] for r in rows if "result" in r[side])
            fail = errs + sum(r[side]["result"]["failed"] for r in rows if "result" in r[side])
            failed_share[side] = fail / att if att else 0.0
            print(f"   {side}: failed {fail}/{att} operations"
                  f" ({failed_share[side]:.3f}), {errs} runs errored")
        fails_more = failed_share["change"] > failed_share["parent"]
        flat = [(flatten(r["parent"]), flatten(r["change"])) for r in rows]
        names = sorted({k for p, c in flat for k in list(p) + list(c)})
        print(f"   {'metric':34s} {'parent q1/med/q3':>30s} {'change q1/med/q3':>30s}  won  verdict")
        for n in names:
            par = [p.get(n) for p, _ in flat]
            chg = [c.get(n) for _, c in flat]
            if n in gated:
                hb, bound = gated[n]["better"] == "higher", gated[n]["bound"]
            else:
                hb, bound = n.endswith("_per_s") or not n.endswith(LOWER), DETAIL_BOUND
            v, share = verdict(par, chg, hb, bound, fails_more)
            fmt = lambda q: "/".join(f"{x:.4g}" for x in q) if q[0] is not None else "-"
            print(f"   {n:34s} {fmt(quartiles([x for x in par if x is not None])):>30s} "
                  f"{fmt(quartiles([x for x in chg if x is not None])):>30s} "
                  f"{share:4.0%}  {v}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent")
    ap.add_argument("--change")
    ap.add_argument("--workloads", default=None)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1000)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--save", default="compare_pairs.json")
    ap.add_argument("--load", default=None)
    a = ap.parse_args()
    bench = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
    if a.load:
        report(json.load(open(a.load)), bench)
        return
    if not (a.parent and a.change):
        ap.error("--parent and --change are required unless --load is given")
    if bench_digest(a.parent) != bench_digest(a.change):
        sys.exit("the two checkouts hold different perfbench/ trees: copy one over the other")
    workloads = a.workloads.split(",") if a.workloads else [w["name"] for w in bench["workloads"]]
    seconds = a.seconds or bench["run_seconds"]
    pairs = []
    for i in range(a.pairs):
        seed = a.seed + i
        for wl in workloads:
            sides = [("parent", a.parent), ("change", a.change)]
            if i % 2:
                sides.reverse()
            rec = {"workload": wl, "seed": seed, "first": sides[0][0]}
            for name, path in sides:
                rec[name] = run_once(path, wl, seed, seconds)
            pairs.append(rec)
            print(f"pair {i + 1}/{a.pairs} {wl} seed {seed} done", file=sys.stderr)
    with open(a.save, "w") as f:
        json.dump(pairs, f)
    report(pairs, bench)


if __name__ == "__main__":
    main()
