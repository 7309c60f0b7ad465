#!/usr/bin/env python3
"""Grade a bench artifact against the frozen BASELINE.md floors.

Usage: python3 tools/benchcompare.py <BENCH_rNN.json | bench_stdout.json>
       python3 tools/benchcompare.py --self-test

Regression rule (the r10/r11 triage thresholds, now mechanical):
  time > 1.5x floor AND time - floor > 0.4s.
Query names fold to the short baseline key (`d3_near_dup...` -> `d3`), as
tools/benchbaseline.py folds them; two names with one short key are an
error. New queries (no floor yet) are listed separately — stamp them into
the baseline with tools/benchbaseline.py once a clean run exists.
A host factor above MAX_HOST_FACTOR is itself a regression: a uniform
slowdown of every query would otherwise excuse itself.
--self-test plants a 10x regression under both key styles (and as a lone
query) and a uniform 3x slowdown, and checks that each grades as a
regression.
Exit code: 0 clean, 1 regressions found, 2 usage/parse error.
"""
import contextlib
import io
import json
import os
import re
import sys
import tempfile

from benchbaseline import decode_queries

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# The median t/floor ratio calibrates the host only when it is a median
# of the surface: over a handful of floored queries it is one of the
# graded queries' own ratios, and a lone 10x regression excuses itself.
MIN_CALIBRATION_SHARE = 0.5

# The largest host factor ever measured on unchanged code was 1.6-1.7x
# (round 12). A median ratio above this cap is a slowdown of the surface,
# not a slower host.
MAX_HOST_FACTOR = 2.0


def load_floors():
    floors, notes = {}, {}
    path = os.path.join(ROOT, "BASELINE.md")
    for line in open(path):
        m = re.match(r"\|\s*(\S+)\s*\|\s*([0-9.]+)\s*\|\s*([^|]+)\|", line)
        if m and m.group(1) != "query":
            floors[m.group(1)] = float(m.group(2))
            src = m.group(3).strip()
            if src.startswith("pinned:"):
                notes[m.group(1)] = src[len("pinned:"):].strip()
    return floors, notes


def main(path):
    d = json.load(open(path))
    try:
        qs = decode_queries(d.get("queries") or (d.get("parsed") or {}).get("queries"))
    except ValueError as e:
        print(f"ERROR: {path}: {e}")
        return 2
    if not qs:
        print(f"ERROR: no queries in {path} (parsed=null?)")
        return 2
    floors, notes = load_floors()
    # HOST CALIBRATION (r12): floors were posted by the cleanest machine
    # in history; the current box may be uniformly slower (measured
    # 1.6-1.7x in round 12 — t9/t16 solo on an idle box sat at exactly
    # that multiple of their floors with unchanged code). The median
    # per-query ratio estimates that host factor robustly (a real
    # regression moves a few queries, not the median), and a regression
    # is then a query beating the CALIBRATED floor by the r10/r11
    # thresholds: t > 1.5 * (median_ratio * floor) AND the absolute
    # excess > 0.4s.
    ratios = sorted(t / floors[q] for q, t in qs.items()
                    if isinstance(t, (int, float)) and floors.get(q))
    if len(ratios) >= MIN_CALIBRATION_SHARE * len(floors):
        host = max(ratios[len(ratios) // 2], 1.0)  # a faster box never EXCUSES a slow query
    else:
        host = 1.0
        print(f"{len(ratios)} of {len(floors)} floored queries: too few to "
              "calibrate the host, grading against the raw floors")
    if host > MAX_HOST_FACTOR:
        print(f"REGRESSION host factor (median t/floor) {host:.2f}x is above "
              f"the {MAX_HOST_FACTOR:.1f}x cap: a uniform slowdown, not a slower host")
        return 1
    regressions, new, improved = [], [], []
    for q, t in sorted(qs.items()):
        if not isinstance(t, (int, float)):
            continue
        f = floors.get(q)
        if f is None:
            new.append((q, t))
        elif t > 1.5 * host * f and t - host * f > 0.4:
            regressions.append((q, t, f))
        elif t < f:
            improved.append((q, t, f))
    total = sum(t for t in qs.values() if isinstance(t, (int, float)))
    ftotal = sum(floors.get(q, 0.0) for q in qs)
    print(f"host factor (median t/floor): {host:.2f}x")
    print(f"total {total:.2f}s vs sum-of-floors {ftotal:.2f}s "
          f"({total / ftotal:.2f}x)" if ftotal else f"total {total:.2f}s")
    for q, t, f in regressions:
        print(f"REGRESSION {q}: {t:.2f}s vs calibrated floor "
              f"{host * f:.2f}s ({t / (host * f):.1f}x)")
    # adjudicated floors carry their root cause into every grading run
    for q in sorted(notes):
        if q in qs:
            print(f"note {q}: floor {floors[q]:.2f}s pinned — {notes[q]}")
    for q, t in new:
        print(f"NEW {q}: {t:.2f}s (no floor — stamp after a clean run)")
    if improved:
        print(f"{len(improved)} queries beat their floor (re-stamp: "
              "tools/benchbaseline.py <this file>)")
    if not regressions:
        print("== no regressions vs baseline ==")
    return 1 if regressions else 0


def self_test():
    """Grade planted artifacts and check each exit code; 0 when all hold."""
    floors, _ = load_floors()
    slow = max(floors, key=floors.get)
    planted = dict(floors, **{slow: 10 * floors[slow]})
    full = lambda qs: {f"{q}_planted_name": t for q, t in qs.items()}
    cases = [
        ("every query at its floor", floors, 0),
        (f"10x {slow}, short keys", planted, 1),
        (f"10x {slow}, full names", full(planted), 1),
        (f"10x {slow} alone, short key", {slow: planted[slow]}, 1),
        (f"10x {slow} alone, full name", full({slow: planted[slow]}), 1),
        ("every query 3x", {q: 3 * t for q, t in floors.items()}, 1),
        ("two names with one short key", {f"{slow}_a": 1.0, f"{slow}_b": 1.0}, 2),
    ]
    failed = 0
    with tempfile.TemporaryDirectory() as tmp:
        for name, qs, want in cases:
            path = os.path.join(tmp, "artifact.json")
            with open(path, "w") as f:
                json.dump({"metric": "total", "queries": qs}, f)
            with contextlib.redirect_stdout(io.StringIO()):
                got = main(path)
            failed += got != want
            print(f"{'ok  ' if got == want else 'FAIL'} {name}: exit {got} (want {want})")
    return 1 if failed else 0


if __name__ == "__main__":
    if sys.argv[1:] == ["--self-test"]:
        sys.exit(self_test())
    if len(sys.argv) != 2:
        print(__doc__)
        sys.exit(2)
    sys.exit(main(sys.argv[1]))
