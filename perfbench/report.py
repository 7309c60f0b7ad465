#!/usr/bin/env python3
"""Layer report from a traced benchmark run.

    python3 perfbench/report.py perfbench/out/<workload>_c<n>_<src>_s<seed>_trace.json [--json FILE]

Reads the traced run's artifact and spans, and the untraced artifacts of the
same workload, core count and source id (for the tracing overhead). Prints
a markdown report:

- pass or phase totals (traced wall time), so warm-up convergence shows;
- self time per layer for every pass or phase, each share with its base;
- per-query ranking of the layers (query workload) and the split between
  fixed per-query overhead and execution;
- the embedded engine against direct single-threaded delivery of the same
  slices to the same processor (stream_embedded);
- the tracing overhead: traced end-to-end value minus the untraced median.

Self time: every instant of a pass or phase is given to the deepest spans
active at that instant, split evenly between them when several run at once;
a span with no active child at an instant owns it. Spans without an explicit
parent are placed in the smallest span of the run that contains them. By
construction the self times of a pass or phase then sum to its wall time, so
that sum checks nothing. What can be misattributed is checked instead: time
of child spans clipped to their parent's interval, and time of spans the
placement left without a pass or phase although they overlap one. Their sum,
as a share of each pass's or phase's wall time, must stay within 1%; the
report exits 1 otherwise.
"""
import argparse
import glob
import json
import os
import statistics
import sys

CONTAINERS = ("query", "operators.build", "driver.action", "trigger", "processor",
              "spark.job") + tuple(f"trigger.{p}" for p in (
                  "latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
                  "commitOffsets"))
ROOTS = ("pass", "phase")
TOL_US = 2000  # listener timestamps have millisecond resolution
TOLERANCE = 0.01  # misattributed time, share of a pass's or phase's wall time

LABELS = {
    "pass": "harness: between timed queries",
    "phase": "stream engine idle (poll wait, stop)",
    "query": "timed window outside build and action",
    "operators.build": "graft.operators/functions: query build",
    "driver.action": "driver gap: action outside Spark jobs",
    "catalyst.analysis": "Catalyst analysis",
    "catalyst.optimization": "Catalyst optimization",
    "catalyst.planning": "Catalyst physical planning",
    "spark.job": "scheduler: job outside its stages",
    "spark.stage": "execution: stages (tasks)",
    "trigger": "trigger outside its listed parts",
    "trigger.latestOffset": "source: latestOffset",
    "trigger.walCommit": "offset log write (walCommit)",
    "trigger.getBatch": "source: getBatch",
    "trigger.queryPlanning": "micro-batch planning",
    "trigger.addBatch": "sink: addBatch outside processor",
    "trigger.commitOffsets": "commit log write",
    "processor": "processor callback",
}
FIXED = {"query", "operators.build", "driver.action", "catalyst.analysis",
         "catalyst.optimization", "catalyst.planning", "spark.job"}


def load_spans(path):
    with open(path) as f:
        return [json.loads(l) for l in f if l.strip()]


def place(spans):
    """Resolve parents and depths; returns {id: span} with 'p' and 'depth'."""
    by_id = {s["id"]: s for s in spans}
    roots = [s for s in spans if s["layer"] in ROOTS]
    boxes = sorted((s for s in spans if s["layer"] in CONTAINERS),
                   key=lambda s: s["end_us"] - s["start_us"])
    for s in spans:
        if s["layer"] in ROOTS:
            s["p"] = None
            continue
        if s["parent"] and s["parent"] in by_id:
            s["p"] = s["parent"]
            continue
        s["p"] = None
        for b in boxes:
            if b is not s and b["start_us"] - TOL_US <= s["start_us"] and \
                    s["end_us"] <= b["end_us"] + TOL_US and \
                    (b["end_us"] - b["start_us"]) >= (s["end_us"] - s["start_us"]):
                s["p"] = b["id"]
                break
        if s["p"] is None:
            best = max(roots, key=lambda r: min(r["end_us"], s["end_us"]) -
                       max(r["start_us"], s["start_us"]), default=None)
            if best is not None and min(best["end_us"], s["end_us"]) > \
                    max(best["start_us"], s["start_us"]):
                s["p"] = best["id"]
    for s in spans:  # depth and root, guarding against cycles
        d, cur, seen = 0, s, set()
        while cur.get("p") is not None and cur["id"] not in seen:
            seen.add(cur["id"])
            cur = by_id[cur["p"]]
            d += 1
        s["depth"], s["root"] = d, (cur["id"] if cur["layer"] in ROOTS else None)
    return by_id


def self_times(by_id, root):
    """Self time (us) per span under one root, and the clipped time."""
    members = [s for s in by_id.values() if s.get("root") == root["id"] and s is not root]
    members.sort(key=lambda s: s["depth"])
    clip, clipped = {root["id"]: (root["start_us"], root["end_us"])}, 0
    for s in members:
        ps, pe = clip.get(s["p"], clip[root["id"]])
        a, b = max(s["start_us"], ps), min(s["end_us"], pe)
        clipped += max(0, (s["end_us"] - s["start_us"]) - max(0, b - a))
        clip[s["id"]] = (a, b) if b > a else (a, a)
    events = sorted({t for iv in clip.values() for t in iv})
    own = {k: 0.0 for k in clip}
    active = [(clip[s["id"]], s) for s in members if clip[s["id"]][1] > clip[s["id"]][0]]
    for lo, hi in zip(events, events[1:]):
        live = [s for (a, b), s in active if a <= lo and hi <= b]
        if not live:
            own[root["id"]] += hi - lo
            continue
        deep = max(s["depth"] for s in live)
        top = [s for s in live if s["depth"] == deep]
        for s in top:
            own[s["id"]] += (hi - lo) / len(top)
    return own, clipped


def union_us(intervals):
    total, cur_s, cur_e = 0, None, None
    for a, b in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if cur_e is None or a > cur_e:
            total += (cur_e - cur_s) if cur_e is not None else 0
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    return total + ((cur_e - cur_s) if cur_e is not None else 0)


def unplaced_us(by_id, root):
    """Time inside the root's interval covered by spans that have no root."""
    lo, hi = root["start_us"], root["end_us"]
    return union_us([(max(lo, s["start_us"]), min(hi, s["end_us"])) for s in by_id.values()
                     if s.get("root") is None and s["layer"] not in ROOTS])


def ancestor(by_id, s, layer):
    cur = s
    while cur is not None:
        if cur["layer"] == layer:
            return cur
        cur = by_id.get(cur.get("p")) if cur.get("p") is not None else None
    return None


def split_key(layer):
    """Fixed per-query overhead, execution, or harness time."""
    return "exec" if layer == "spark.stage" else \
        "fixed" if layer in FIXED or layer.startswith("catalyst.") else "other"


def fmt_share(part, base):
    return f"{part / 1000:9.1f} ms  {100 * part / base:5.1f}% of {base / 1000:.1f} ms" \
        if base else f"{part / 1000:9.1f} ms"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("artifact")
    ap.add_argument("--json")
    args = ap.parse_args()
    art = json.load(open(args.artifact))
    spans_path = args.artifact[:-len(".json")] + ".spans.jsonl"
    spans = load_spans(spans_path)
    by_id = place(spans)
    roots = sorted((s for s in spans if s["layer"] in ROOTS), key=lambda s: s["start_us"])
    out = {"workload": art["workload"], "commit": art["commit"], "source_id": art["source_id"],
           "seed": art["seed"], "nproc": art["nproc"], "roots": []}
    p = print
    p(f"# Layer report: {art['workload']} (seed {art['seed']}, nproc {art['nproc']}, "
      f"commit {art['commit'][:12]}, source {art['source_id'][:10]})\n")

    p("## Pass / phase totals (traced wall time)\n")
    for r in roots:
        p(f"- {r['name']}: {(r['end_us'] - r['start_us']) / 1e6:.3f} s")
    p("")

    worst = 0.0
    fixed_exec = {"fixed": 0.0, "exec": 0.0, "other": 0.0, "wall": 0.0}
    per_query = {}
    for r in roots:
        own, clipped = self_times(by_id, r)
        wall = r["end_us"] - r["start_us"]
        by_layer = {}
        for sid, us in own.items():
            layer = by_id[sid]["layer"]
            by_layer[layer] = by_layer.get(layer, 0.0) + us
            q = ancestor(by_id, by_id[sid], "query")
            if q is not None and r["name"] != "cold pass":
                per_query.setdefault(q["name"], {}).setdefault(layer, 0.0)
                per_query[q["name"]][layer] += us
        lost = unplaced_us(by_id, r)
        err = (clipped + lost) / wall if wall else 0.0
        worst = max(worst, err)
        p(f"## {r['name']}: self time per layer\n")
        p(f"wall {wall / 1000:.1f} ms; misattributed {(clipped + lost) / 1000:.1f} ms "
          f"({100 * err:.3f}% of the wall time): child time clipped to parents "
          f"{clipped / 1000:.1f} ms, spans left without a pass or phase {lost / 1000:.1f} ms\n")
        for layer, us in sorted(by_layer.items(), key=lambda kv: -kv[1]):
            p(f"- {LABELS.get(layer, layer):42s} {fmt_share(us, wall)}")
        p("")
        out["roots"].append({"name": r["name"], "wall_ms": wall / 1000,
                             "self_ms": {k: v / 1000 for k, v in by_layer.items()},
                             "misattributed_ratio": err, "clipped_ms": clipped / 1000,
                             "unplaced_ms": lost / 1000})
        if r["layer"] == "pass" and r["name"] != "cold pass":
            fixed_exec["wall"] += wall
            for layer, us in by_layer.items():
                fixed_exec[split_key(layer)] += us

    if per_query:
        p("## Warm passes: layers ranked per query (self time summed over warm passes)\n")
        warm_passes = sum(1 for r in roots if r["layer"] == "pass" and r["name"] != "cold pass")
        out["per_query"] = {}
        for q, layers in sorted(per_query.items(), key=lambda kv: -sum(kv[1].values())):
            tot = sum(layers.values())
            top = sorted(layers.items(), key=lambda kv: -kv[1])[:4]
            split = {k: sum(us for l, us in layers.items() if split_key(l) == k)
                     for k in ("fixed", "exec", "other")}
            p(f"- {q}: {tot / 1000:.1f} ms; fixed {100 * split['fixed'] / tot:.0f}%, execution "
              f"{100 * split['exec'] / tot:.0f}% (base: its warm self time); " + "; ".join(
                  f"{LABELS.get(l, l)} {100 * us / tot:.0f}%" for l, us in top))
            out["per_query"][q] = {"warm_ms_per_pass": tot / 1000 / max(1, warm_passes),
                                   "fixed_share": split["fixed"] / tot,
                                   "exec_share": split["exec"] / tot,
                                   "self_ms": {l: us / 1000 for l, us in layers.items()}}
        p("")
        w = fixed_exec["wall"]
        p("## Fixed per-query overhead against execution (warm passes)\n")
        p(f"- fixed overhead (build, Catalyst, driver gap, scheduler): "
          f"{fmt_share(fixed_exec['fixed'], w)}")
        p(f"- execution (stage time): {fmt_share(fixed_exec['exec'], w)}")
        p(f"- harness between queries: {fmt_share(fixed_exec['other'], w)}")
        p("")
        out["fixed_vs_exec_ms"] = {k: v / 1000 for k, v in fixed_exec.items()}

    detail = art["jvm"]["detail"]
    layers = {k: v["value"] for k, v in art["result"]["metrics"].items()}
    if art["workload"] == "stream_embedded":
        eng = art["jvm"]["e2e"]["throughput_per_s"]
        direct = detail["direct_items_per_s"]
        p("## Embedded engine against direct delivery\n")
        p(f"- engine: {eng:.1f} items/s (closed loop, full slices after warm-up)")
        p(f"- direct single-threaded delivery of the same {detail['pushed']} items, in the "
          f"same slices, to the same recording processor: {direct:.0f} items/s")
        p(f"- the engine delivers {eng / direct:.2e} of the direct rate "
          f"(base: the direct rate)")
        mb = layers["nibbler.microbatch_ms"]
        p(f"- per micro-batch (median): {mb:.1f} ms, of which drain (addBatch outside the "
          f"processor) {layers['nibbler.drain_ms']:.1f} ms ({100 * layers['nibbler.drain_ms'] / mb:.0f}%), "
          f"offset and commit log writes {layers['nibbler.log_commit_ms']:.1f} ms "
          f"({100 * layers['nibbler.log_commit_ms'] / mb:.0f}%), planning "
          f"{layers['nibbler.planning_ms']:.1f} ms; base: the micro-batch median")
        p(f"- {layers['nibbler.tasks_per_microbatch']:.0f} tasks per micro-batch, "
          f"{layers['nibbler.items_per_task']:.2f} items per task")
        p("")
        out["embedded_vs_direct"] = {"engine_items_per_s": eng, "direct_items_per_s": direct}

    # tracing overhead: traced e2e against the untraced runs of the same build
    pat = os.path.join(os.path.dirname(args.artifact),
                       f"{art['workload']}_c{art['nproc']}_{art['source_id'][:10]}_s*.json")
    plain = [json.load(open(f)) for f in glob.glob(pat) if not f.endswith("_trace.json")]
    plain = [a for a in plain if not a.get("plant_fault")]
    p("## Tracing overhead\n")
    if plain:
        out["tracing_overhead"] = {}
        for k, v in art["jvm"]["e2e"].items():
            base = statistics.median(a["jvm"]["e2e"][k] for a in plain)
            p(f"- {k}: traced {v:.4g}, untraced median {base:.4g} over {len(plain)} runs, "
              f"overhead {v - base:+.4g} ({100 * (v - base) / base:+.1f}% of the untraced median)")
            out["tracing_overhead"][k] = {"traced": v, "untraced_median": base,
                                          "untraced_runs": len(plain)}
    else:
        p("- no untraced run of this build to compare against")
    p("")
    p(f"Attribution check: per pass or phase, clipped plus unplaced span time is at most "
      f"{100 * worst:.3f}% of its wall time (tolerance {100 * TOLERANCE:.0f}%): "
      f"{'PASS' if worst <= TOLERANCE else 'FAIL'}.")
    out["max_misattributed_ratio"] = worst
    if args.json:
        with open(args.json, "w") as f:
            json.dump(out, f, indent=1)
    sys.exit(0 if worst <= TOLERANCE else 1)


if __name__ == "__main__":
    main()
