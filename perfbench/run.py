#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <floor|knn-serve|prep> --seed <n>
                             --seconds <s> --trace <0|1>

Run from the root of a checkout.  The first run builds the program and the
benchmark from source with sbt (outputs under $CARGO_TARGET_DIR, default
`.bench_build`); later runs reuse the build while the sources are unchanged.
The benchmark JVM runs the workload at local[4] from one driver thread and
writes a result file; this script checks the outputs it can check from
Python (floor result hashes), computes the metrics and prints, as its last
stdout line, {"correct", "attempted", "failed", "metrics"}: the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1.  The line
before it carries every workload figure by its documented name.

`--gen-only 1 --out <dir>` writes the workload's generated inputs for the
seed into <dir> and exits (used by the determinism test).
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics  # noqa: E402
import oracle_hash  # noqa: E402

WORKLOADS = ("floor", "knn-serve", "prep")
HEAP = "4g"
RUN_TIMEOUT_S = 170
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return os.path.abspath(os.path.join(ROOT, d))


def source_digest():
    """Digest of everything the build reads from the checkout."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for dp, dn, fn in os.walk(r):
            dn.sort()
            files += [os.path.join(dp, f) for f in sorted(fn)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(bdir):
    """Compile the program and the benchmark; return the runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no {need} in {ROOT}: run from the root of a full checkout")
    digest = source_digest()
    cp_file = os.path.join(bdir, "classpath.txt")
    stamp = os.path.join(bdir, "classpath.digest")
    if os.path.exists(cp_file) and os.path.exists(stamp) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    os.makedirs(bdir, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", CARGO_TARGET_DIR=bdir)
    tmp = os.path.join(bdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true -Dsbt.override.build.repos=true"
                       f" -Xmx2g -Djava.io.tmpdir={tmp}").strip()
    log = os.path.join(bdir, "build.log")
    t0 = time.time()
    with open(log, "w") as out:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true",
                              "export perfbench/Runtime/fullClasspath"],
                             cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT)
    lines = open(log).read().splitlines()
    cp = [l for l in lines if not l.startswith("[") and ".jar" in l]
    if rc != 0 or not cp:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (rc={rc}), log in {log}")
    with open(cp_file, "w") as f:
        f.write(cp[-1])
    with open(stamp, "w") as f:
        f.write(digest)
    print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)
    return cp[-1]


def run_jvm(cp, out, jvm_args, timeout=RUN_TIMEOUT_S):
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch",
            "-XX:ActiveProcessorCount=4", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] +
           [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", cp, "perfbench.Main"] + jvm_args)
    log = os.path.join(out, "jvm.log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=out, stdout=fh, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"benchmark JVM timed out after {timeout} s, log in {log}", 3)
    if rc != 0:
        sys.stderr.write("".join(open(log).readlines()[-40:]))
        fail(f"benchmark JVM failed (rc={rc}), log in {log}", 3)


def floor_checks(out, result):
    """Hash each executed query's dumped result against the expected file:
    the DuckDB oracle's hash where an oracle exists, else the row count."""
    with open(os.path.join(HERE, "floor", "expected.json")) as f:
        expected = json.load(f)
    checks = []
    for name in sorted({o["name"] for o in result["ops"]}):
        exp = expected.get(name)
        path = os.path.join(out, "results", name)
        if exp is None:
            checks.append({"name": f"query:{name}", "ok": False, "detail": "no expected entry"})
            continue
        if not os.path.exists(path):
            continue  # the dump failure is already a check of the JVM
        try:
            got_hash, got_rows = oracle_hash.parquet_hash(path)
        except Exception as e:  # an unreadable result fails its check
            checks.append({"name": f"query:{name}", "ok": False, "detail": str(e)[:200]})
            continue
        if "hash" in exp:
            ok = got_hash == exp["hash"]
            d = f"hash {got_hash[:12]} expected {exp['hash'][:12]} ({exp['source']})"
        else:
            ok = got_rows == exp["rows"]
            d = f"rows {got_rows} expected {exp['rows']}"
        checks.append({"name": f"query:{name}", "ok": ok, "detail": d})
    return checks


def failed_ops(result, checks):
    """Timed operations that threw or whose output check failed, plus
    run-level checks that failed (those are not tied to one operation)."""
    bad = set()
    run_level = 0
    names = {o["name"] for o in result["ops"]}
    for c in checks:
        if c["ok"]:
            continue
        key = c["name"].split(":", 1)[1] if ":" in c["name"] else ""
        if key.startswith("op"):
            bad.add(int(key[2:]))
        elif key in names:
            bad.update(o["id"] for o in result["ops"] if o["name"] == key)
        else:
            run_level += 1
    bad.update(o["id"] for o in result["ops"] if not o["ok"])
    return len(bad), run_level


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--gen-only", type=int, default=0)
    ap.add_argument("--out", default=None)
    a = ap.parse_args()

    bdir = build_dir()
    cp = build(bdir)
    out = a.out or os.path.join(bdir, "runs", f"{a.workload}-{a.seed}-t{a.trace}")
    out = os.path.abspath(out)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    if a.gen_only:
        run_jvm(cp, out, ["--workload", a.workload, "--seed", str(a.seed),
                                "--seconds", "0", "--out", out, "--bench", HERE,
                                "--gen-only", "1"])
        return
    data = os.path.join(HERE, "data", "sf0.1")
    if a.workload == "floor" and not os.path.isdir(data):
        fail(f"missing floor tables in {data}")
    run_jvm(cp, out, ["--workload", a.workload, "--seed", str(a.seed),
                            "--seconds", str(a.seconds), "--trace", str(a.trace),
                            "--out", out, "--bench", HERE, "--data", data])
    with open(os.path.join(out, "result.json")) as f:
        result = json.load(f)

    checks = list(result["checks"])
    if a.workload == "floor":
        checks += floor_checks(out, result)
    n_bad, run_level = failed_ops(result, checks)
    attempted = len(result["ops"]) + run_level
    failed = n_bad + run_level
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    det = metrics.detail(result, failed / max(1, attempted))
    det["failed_checks"] = [c["name"] + " " + c["detail"] for c in checks if not c["ok"]][:20]
    det["failed_ops"] = [o["name"] for o in result["ops"] if not o["ok"]][:20]
    det["seed"] = a.seed
    det["workload"] = a.workload
    if a.trace:
        spans, report = metrics.span_tree(result)
        with open(os.path.join(out, "spans.json"), "w") as f:
            json.dump(spans, f)
        with open(os.path.join(out, "self_time.json"), "w") as f:
            json.dump(report, f, indent=1)
        units = {m["name"]: m["unit"] for m in bench["per_layer"]}
        if a.workload == "knn-serve":
            units.update(metrics.KNN_LAYER)
        names = list(units)
        vals = metrics.per_layer(result, names)
        out_metrics = {k: {"value": vals[k], "unit": units[k]} for k in names}
    else:
        e2e = metrics.end_to_end(result)
        out_metrics = {m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]}
                       for m in bench["end_to_end"]}
    print(json.dumps({"detail": det}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": out_metrics}))


if __name__ == "__main__":
    main()
