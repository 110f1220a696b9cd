#!/usr/bin/env python3
"""Runs the benchmark on several seeds and prints each end-to-end
metric's median and spread (inter-quartile range over median, as
`statistics.quantiles(values, n=4)` gives the quartiles) next to its
bound from BENCHMARK.json.

    python3 perfbench/tools/steady.py --workloads ref_serial ingest_cold --seeds 1-10

Run from the repository root. Spreads above a third of the bound are
flagged; setup_s is reported but has no spread bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def spread(values):
    """Inter-quartile range over the median: the run-to-run spread each
    end-to-end metric is judged by, with Python's default quartiles."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2, q2


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out", help="append each result line to this file")
    ap.add_argument("--record", help="append each run's record line to this file")
    a = ap.parse_args()
    bench = json.load(open("BENCHMARK.json"))
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    ok = True
    for w in a.workloads or [x["name"] for x in bench["workloads"]]:
        values, walls = {}, []
        for s in seeds(a.seeds):
            t0 = time.time()
            out = subprocess.run(
                bench["command"] + ["--workload", w, "--seed", str(s),
                                    "--seconds", str(bench["run_seconds"]),
                                    "--trace", "0"],
                capture_output=True, text=True)
            walls.append(time.time() - t0)
            if out.returncode != 0:
                sys.exit(f"{w} seed {s} failed:\n{out.stderr[-2000:]}")
            lines = out.stdout.strip().splitlines()
            res = json.loads(lines[-1])
            if a.record and len(lines) > 1:
                with open(a.record, "a") as fh:
                    fh.write(lines[-2] + "\n")
            if not res["correct"] or res["failed"]:
                ok = False
                print(f"{w} seed {s}: correct={res['correct']} failed={res['failed']}")
            if a.out:
                with open(a.out, "a") as fh:
                    fh.write(json.dumps({"workload": w, "seed": s, **res}) + "\n")
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        print(f"{w}: {len(walls)} runs, wall per run median "
              f"{statistics.median(walls):.1f} s, max {max(walls):.1f} s")
        for k, vs in values.items():
            s, med = spread(vs)
            flag = "" if k == "setup_s" or s <= bounds[k] / 3 else "  <-- above bound/3"
            print(f"  {k:12s} median {med:10.4f}  spread {s:6.3f}  "
                  f"bound {bounds[k]}{flag}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
