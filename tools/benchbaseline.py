#!/usr/bin/env python3
"""Freeze the per-query bench baseline (r11 verdict item 4).

The "within 2x of BASELINE" bar never had a pinned denominator, so every
round re-litigated machine contention (r9's false regressions, r10's s5,
r11's q24/t20). This stamps BASELINE.md with the MIN-OF-HISTORY per query
across every parsed driver artifact (BENCH_r*.json) plus any extra clean
local runs passed as arguments — the cleanest number each query has ever
posted, which is the honest floor a regression must be measured against
(a min is contention-immune: load only ever inflates times).

Usage:
  python3 tools/benchbaseline.py [extra_bench.json ...] > /dev/null
Rewrites BASELINE.md in place. Extra files are raw Bench stdout JSON
({"metric":..., "queries": {...}}) from clean-machine runs.
"""
import json
import glob
import re
import sys
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Adjudicated floors (r13 verdict item 2, stamped r14): for these entries
# the raw min-of-history is a NON-REPEATABLE artifact (a lucky
# full-bench-warm minimum or a single clean-run fluke), root-caused in
# the notes section below. The pinned value replaces the historical min
# so benchcompare grades against a floor the query can actually repost
# on an idle box; benchcompare attaches the reason to its output.
PINNED = {
    # r17 optimization round: ALL pins removed along with the count-era
    # floors. The timed action changed from count() to the noop sink
    # (guide §1.4; r16 verdict item 1), which re-bases every number —
    # count-action minima (and the count-era s6/d4/x3 pins) certify work
    # the new action measures differently, so the noop era starts fresh
    # from the r17 clean-box baseline and only noop-action artifacts
    # (BENCH_r17+ driver rounds, stamped tools/bench_r17* extras) feed
    # the floors from here on.
}

# First driver round benched with the noop action; earlier rounds are
# count-action history and must not feed noop-era floors.
NOOP_ERA_FIRST_ROUND = 17


def fold_short_keys(qs):
    """{full or short query name: value} -> {short baseline key: value}.

    The short key is the name's pre-underscore prefix. Two names that fold
    to the same key are an error, not a silent last-write-wins.
    """
    out, names = {}, {}
    for name, v in qs.items():
        q = name.split("_")[0]
        if q in out:
            raise ValueError(f"duplicate short key {q}: {names[q]!r} and {name!r}")
        out[q], names[q] = v, name
    return out


def decode_queries(qs):
    # r13+: the driver stamps parsed.queries as a POINTER to the detail
    # artifact ({"runs": {long_name: [pass1, ...]}}); fold to
    # best-of-passes under the short (pre-underscore) baseline key.
    # Accept a JSON-encoded object string too.
    if isinstance(qs, str):
        detail = os.path.join(ROOT, qs)
        if os.path.exists(detail):
            runs = json.load(open(detail)).get("runs") or {}
            return fold_short_keys({name: min(ts) for name, ts in runs.items()
                                    if isinstance(ts, list) and ts}) or None
        try:
            qs = json.loads(qs)
        except ValueError:
            return None
    if not isinstance(qs, dict):
        return None
    # r17+: the SPARK_GRAFT_BENCH_OUT artifact carries FULL query names
    # (the restored per-query channel); fold to the short baseline key.
    return fold_short_keys(qs)


def load_rounds():
    out = []
    for f in sorted(glob.glob(os.path.join(ROOT, "BENCH_r*.json"))):
        m = re.match(r"BENCH_r(\d+)", os.path.basename(f))
        if m and int(m.group(1)) < NOOP_ERA_FIRST_ROUND:
            continue  # count-action era: incomparable to noop floors
        d = json.load(open(f))
        qs = (d.get("parsed") or {}).get("queries")
        # POINTER-typed queries ("BENCH_DETAIL.json") must NOT resolve
        # here: the pointed-at file is whatever the LATEST bench wrote,
        # not that round's numbers — resolving it would stamp today's
        # times under a historical tag (observed r15: "q65 source r13").
        # Pointer rounds contribute via their stamped tools/bench_rNN_*
        # extras instead.
        if isinstance(qs, str):
            continue
        qs = decode_queries(qs)
        if qs:
            out.append((os.path.basename(f).replace("BENCH_", "").replace(".json", ""),
                        qs))
    return out


def main(extra):
    rounds = load_rounds()
    for f in extra:
        d = json.load(open(f))
        raw = d.get("queries") or (d.get("parsed") or {}).get("queries")
        # POINTER-typed extras are the same stale-provenance hazard as
        # pointer-typed driver rounds (observed r16b: four r15_run files
        # resolved to TODAY'S BENCH_DETAIL and stamped current times
        # under an r15 tag) — a stamped extra must carry its own numbers.
        if isinstance(raw, str) and os.path.exists(os.path.join(ROOT, raw)):
            print(f"SKIP pointer-typed extra {f}: materialize the detail "
                  f"into the file before stamping", file=sys.stderr)
            continue
        qs = decode_queries(raw)
        if qs:
            rounds.append((os.path.basename(f), qs))
    best = {}
    for tag, qs in rounds:
        for q, t in qs.items():
            # r06's artifact carries a few NEGATIVE per-query values (a
            # driver-side parse defect that round) — a floor must be a
            # real elapsed time, so non-positive entries are discarded
            if not isinstance(t, (int, float)) or t <= 0:
                continue
            if q not in best or t < best[q][0]:
                best[q] = (float(t), tag)
    for q, (v, why) in PINNED.items():
        if q in best:
            best[q] = (v, f"pinned: {why}")
    lines = [
        "# BASELINE — frozen per-query bench floor (sf0.1, local[32])",
        "",
        "NOOP ERA (r17+): the bench's timed action switched from count()",
        "to the noop sink in round 17 (guide §1.4 — count() let Catalyst",
        "prune columns and whole subtrees, so some count-era floors",
        "certified work that never executed: t10 0.17 vs 19.2 honest,",
        "q31 0.33 vs 3.3, x5 0.18 vs 2.9). Floors below are min-of-history",
        "over NOOP-action artifacts only (BENCH_r17+ driver rounds plus",
        "stamped clean noop runs); count-era artifacts are incomparable",
        "and excluded. A min is contention-immune: machine load only ever",
        "inflates a time, so the floor is the cleanest number the query",
        "has actually posted.",
        "Grade a new round with `python3 tools/benchcompare.py BENCH_rNN.json`:",
        "a regression is >1.5x over floor AND >0.4s absolute (the r10/r11",
        "triage thresholds); anything else is contention noise by the",
        "interleaved-pass protocol's own history.",
        "",
        f"Queries: {len(best)}. Sources: " +
        ", ".join(sorted(set(tag for _, tag in best.values()
                             if not tag.startswith("pinned:")))) +
        f"; {sum(1 for _, t in best.values() if t.startswith('pinned:'))}"
        " adjudicated pins (see source column).",
        "",
        "| query | floor_sec | source |",
        "|---|---|---|",
    ]
    for q in sorted(best):
        t, tag = best[q]
        lines.append(f"| {q} | {t:.3f} | {tag} |")
    total = sum(t for t, _ in best.values())
    lines.append("")
    lines.append(f"Sum of floors: {total:.2f} s (an idealized no-contention "
                 "total — real interleaved-pass totals sit above it).")
    lines.append("")
    lines.append("## Era note (r17)")
    lines.append("")
    lines.append("The r17 action switch (count() -> noop sink) re-based every")
    lines.append("floor; the r13/r14 adjudicated pins (s4/s6/s8/t17/d4/x3) and")
    lines.append("count-era root-cause notes were retired with the count-era")
    lines.append("floors they annotated (see git history and")
    lines.append("OPTIMIZATION_r17.md for the full account, including the")
    lines.append("count-vs-noop per-query deltas measured on the same box).")
    lines.append("")
    out = "\n".join(lines) + "\n"
    open(os.path.join(ROOT, "BASELINE.md"), "w").write(out)
    print(f"BASELINE.md: {len(best)} queries, sum of floors {total:.2f}s")


if __name__ == "__main__":
    try:
        main(sys.argv[1:])
    except ValueError as e:
        print(f"ERROR: {e}", file=sys.stderr)
        sys.exit(2)
