#!/usr/bin/env python3
"""Freeze the `floor` query list: perfbench/floor/queries.tsv.

Usage: make_floor_list.py <bench_full_c8.json> <repo src/main/scala/graft> <full-pass result.json>

The list is every timed (headline) query whose recorded 8-core wall in the
given bench artifact is under 1 s, plus the iterative graph operators that
sit above it.  Each query is mapped to the repository module whose public
functions its body mainly calls: references to objects defined under each
module directory are counted inside the query's definition, and the
registry's own module wins ties.  The third argument is the result file of
a `floor` run long enough to visit every listed query (`run.run_jvm` called
with `--seconds 400` and a longer timeout, as tools/make_expected.py calls
it); each query's last wall in it is recorded as its local wall,
which orders the strata of the seeded run order.  The output rows are
`name <tab> module <tab> wall_c8_s <tab> wall_local_s`.
"""
import json
import os
import re
import sys

ITERATIVE = ["q62_connected_dups", "q82_component_stats",
             "q231_bfs_distances", "q232_kcore_peel"]
MODULES = ["queries", "operators", "llm", "streaming", "sources", "functions"]
REGISTRIES = {"queries/BatchQueries.scala": "queries",
              "queries/ExtendedQueries.scala": "queries",
              "streaming/StreamingQueries.scala": "streaming",
              "llm/LlmQueries.scala": "llm"}


def main():
    walls = json.load(open(sys.argv[1]))["queries"]
    src = sys.argv[2]
    owner = {}
    for mod in MODULES + ["core", "pipeline"]:
        d = os.path.join(src, mod)
        for f in sorted(os.listdir(d)):
            if f.endswith(".scala") and "Queries" not in f:
                for m in re.finditer(r"^object (\w+)", open(os.path.join(d, f)).read(), re.M):
                    owner[m.group(1)] = mod
    bodies = {}
    for rel, mod in REGISTRIES.items():
        text = open(os.path.join(src, rel)).read()
        starts = [(m.start(), m.group(1)) for m in re.finditer(r'"(q\d+\w*)"', text)]
        for i, (pos, name) in enumerate(starts):
            end = starts[i + 1][0] if i + 1 < len(starts) else len(text)
            bodies.setdefault(name, (text[pos:end], mod))
    local = {}
    for o in json.load(open(sys.argv[3]))["ops"]:
        local[o["name"]] = (o["end_ns"] - o["start_ns"]) / 1e9
    chosen = sorted([q for q, w in walls.items() if 0 <= w < 1.0]) + ITERATIVE
    rows = []
    for q in chosen:
        body, reg = bodies[q]
        counts = {m: 0 for m in MODULES}
        for obj in re.findall(r"\b([A-Z]\w+)\.", body):
            mod = owner.get(obj)
            if mod in counts:
                counts[mod] += 1
        best = max(MODULES, key=lambda m: (counts[m], m == reg))
        if counts[best] == 0:
            best = reg
        rows.append((q, best, walls[q], local[q]))
    with open(os.path.join(os.path.dirname(__file__), "..", "floor", "queries.tsv"), "w") as f:
        f.write("# name\tmodule\twall_c8_s\twall_local_s (frozen floor list; see tools/make_floor_list.py)\n")
        for q, m, w, lw in rows:
            f.write(f"{q}\t{m}\t{w:.3f}\t{lw:.3f}\n")
    print(len(rows), "queries;", {m: sum(1 for r in rows if r[1] == m) for m in MODULES})


if __name__ == "__main__":
    main()
