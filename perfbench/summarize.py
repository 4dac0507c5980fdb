#!/usr/bin/env python3
"""Summarize the benchmark's traced runs: where the time goes, layer by layer.

    python3 perfbench/summarize.py [--work .bench_build/work]

For each workload with a traced run (`run.py ... --trace 1`) it prints, as
Markdown tables:
  - per layer: self time (span time minus the time its child spans cover),
    and the engine work attributed to the layer's own calls;
  - per call (layer.name): calls, wall and self time per call, counts, and
    ratios, each with its base;
  - tracing overhead: the traced run's end-to-end metrics minus those of the
    latest untraced run of the same workload.
"""
import argparse
import json
import os
import sys
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(path):
    with open(path) as f:
        return json.load(f)


def union_ms(intervals):
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_times(spans):
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append((s["start_ms"], s["end_ms"]))
    return {s["id"]: (s["end_ms"] - s["start_ms"]) - union_ms(kids[s["id"]]) for s in spans}


def fmt(x, digits=1):
    if isinstance(x, float):
        return f"{x:,.{digits}f}"
    return f"{x:,}"


def table(header, rows):
    out = ["| " + " | ".join(header) + " |", "|" + "---|" * len(header)]
    out += ["| " + " | ".join(fmt(c) if not isinstance(c, str) else c for c in r) + " |" for r in rows]
    return "\n".join(out)


def summarize(name, trace, untraced):
    d = trace["detail"]
    spans = trace["spans"]
    selfs = self_times(spans)
    passes = max(1, d["passes"])
    pass_wall = sum(s["end_ms"] - s["start_ms"] for s in spans if s["layer"] == "bench")
    lines = [f"## {name}", "",
             f"Traced run `{d['run_id']}`: seed {d['seed']}, {d['passes']} pass(es), "
             f"{len(spans)} spans, sizes `{json.dumps(d['sizes'])}`.", ""]

    by_layer = defaultdict(lambda: defaultdict(float))
    for s in spans:
        L = by_layer[s["layer"]]
        L["spans"] += 1
        L["self_ms"] += selfs[s["id"]]
        for k in ("jobs", "tasks", "task_ms", "plan_ms", "exec_ms", "shuffle_read_bytes",
                  "shuffle_write_bytes", "input_bytes", "output_bytes"):
            L[k] += s["own"][k]
    rows = []
    for layer in sorted(by_layer, key=lambda k: -by_layer[k]["self_ms"]):
        L = by_layer[layer]
        rows.append([layer, int(L["spans"]), L["self_ms"] / 1e3,
                     f"{L['self_ms'] / pass_wall:.1%}" if pass_wall else "-",
                     int(L["jobs"]), int(L["tasks"]), L["task_ms"] / 1e3, L["plan_ms"] / 1e3,
                     int(L["shuffle_read_bytes"] + L["shuffle_write_bytes"]),
                     int(L["input_bytes"]), int(L["output_bytes"])])
    lines += ["Per layer (self time; counts are the engine work submitted directly by the "
              "layer's own calls, children excluded; the self-time share's base is the summed "
              "wall time of the timed passes; probes run after the passes, so shares of all "
              "layers can exceed 100%):", "",
              table(["layer", "spans", "self s", "self / pass wall", "jobs", "tasks", "task s",
                     "plan s", "shuffle B", "input B", "output B"], rows), ""]

    by_call = defaultdict(list)
    for s in spans:
        by_call[f"{s['layer']}.{s['name']}"].append(s)
    rows = []
    for key in sorted(by_call, key=lambda k: -sum(selfs[s["id"]] for s in by_call[k])):
        ss = by_call[key]
        n = len(ss)
        wall = sum(s["end_ms"] - s["start_ms"] for s in ss)
        selfms = sum(selfs[s["id"]] for s in ss)
        inc = lambda k: sum(s["incl"][k] for s in ss)
        idle = sum(s["idle_ms"] for s in ss)
        rows.append([key, n, wall / n, selfms / n, inc("jobs") / n, inc("tasks") / n,
                     inc("task_ms") / n,
                     f"{idle / wall:.2f}" if wall else "-",
                     f"{inc('task_ms') / wall:.2f}" if wall else "-",
                     f"{inc('plan_ms') / wall:.3f}" if wall else "-",
                     inc("plan_lines") / n, inc("exchanges") / n])
    lines += ["Per call, means per call with children included (idle share = wall time with "
              "no task running / wall; busy cores = task ms / wall ms; plan share = Catalyst "
              "phase ms / wall ms):", "",
              table(["call", "calls", "wall ms", "self ms", "jobs", "tasks", "task ms",
                     "idle share", "busy cores", "plan share", "plan lines", "exchanges"], rows), ""]

    traced = d["end_to_end"]
    if untraced:
        u = untraced["detail"]
        rows = [[k, u["end_to_end"][k], traced[k], traced[k] - u["end_to_end"][k],
                 f"{(traced[k] - u['end_to_end'][k]) / u['end_to_end'][k]:+.1%}"]
                for k in traced if k in u["end_to_end"]]
        lines += [f"Tracing overhead: traced run (seed {d['seed']}) minus the latest untraced "
                  f"run (seed {u['seed']}); the relative column's base is the untraced value:", "",
                  table(["metric", "untraced", "traced", "traced - untraced", "relative"], rows), ""]
    else:
        lines += ["Tracing overhead: no untraced run of this workload recorded.", ""]
    return "\n".join(lines)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--work", default=os.path.join(ROOT, ".bench_build", "work"))
    a = ap.parse_args()
    tdir, rdir = os.path.join(a.work, "trace"), os.path.join(a.work, "results")
    names = sorted(f[:-5] for f in os.listdir(tdir) if f.endswith(".json")) if os.path.isdir(tdir) else []
    if not names:
        print("no traced runs found; run perfbench/run.py ... --trace 1 first", file=sys.stderr)
        return 1
    print("# Benchmark trace summary\n")
    for n in names:
        r = os.path.join(rdir, n + ".json")
        print(summarize(n, load(os.path.join(tdir, n + ".json")), load(r) if os.path.isfile(r) else None))
    return 0


if __name__ == "__main__":
    sys.exit(main())
