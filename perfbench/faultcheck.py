#!/usr/bin/env python3
"""Show that the correctness gate can fail.

    python3 perfbench/faultcheck.py [--seed N] [--seconds S]

Runs stream_embedded with one pushed item dropped before it is recorded,
and the query workload with one recorded row count off by one (both via
run.py --plant-fault 1). Each planted run must report failed > 0 and
correct = false; the script prints the failed ratio of each and exits 1
if either gate stayed green.
"""
import argparse
import sys

from steady import run_once


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--seconds", type=float, default=6)
    args = ap.parse_args()
    ok = True
    for workload, fault in (("stream_embedded", "one dropped item"),
                            ("queries", "one wrong row count")):
        line, _ = run_once(workload, args.seed, args.seconds, extra=("--plant-fault", "1"))
        ratio = line["failed"] / line["attempted"]
        caught = line["failed"] > 0 and not line["correct"]
        ok &= caught
        print(f"{workload}: planted {fault}: failed {line['failed']} of {line['attempted']} "
              f"(failed ratio {ratio:.5f}), correct={line['correct']} -> "
              f"{'gate fails as it should' if caught else 'GATE DID NOT FAIL'}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
