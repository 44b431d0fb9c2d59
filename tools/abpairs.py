#!/usr/bin/env python3
"""Alternating parent/change pairs of the repository benchmark.

Usage (from the repository root):
    python3 tools/abpairs.py <parent checkout> <change checkout> \
        --workload fhir_bulk --pairs 10 --seed 100 [--out runs.json]

Pair i runs `perfbench/run.py --workload W --seed <seed + i> --seconds S
--trace 0` once in each checkout, one run at a time, with S the
`run_seconds` of the change's BENCHMARK.json for both sides; even pairs run
the parent first, odd pairs the change first, so a drift in host speed does
not favour one side. Every run is printed as it ends, with its
`host_gauge_s`. At the end: how many runs of each side crashed or failed the
benchmark's checks, and for each end-to-end metric both sides' median and
quartiles over their usable runs, the change's wins and losses over all pairs
run, and whether the median gap exceeds the parent's interquartile range.
A pair whose change run is unusable, or failed more operations than its
parent run, is a loss on every metric; a pair whose parent run alone is
unusable counts for neither side, as do ties.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run(checkout, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    record = next((json.loads(l[len("run-record: "):]) for l in lines
                   if l.startswith("run-record: ")), {})
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        result = {"correct": False, "error": (p.stderr.strip().splitlines() or ["?"])[-1]}
    result["host_gauge_s"] = record.get("host_gauge_s")
    return result


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=100)
    ap.add_argument("--out")
    a = ap.parse_args()
    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics, seconds = bench["end_to_end"], bench["run_seconds"]

    pairs = []
    for i in range(a.pairs):
        seed = a.seed + i
        sides = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        pair = {"seed": seed, "first": sides[0]}
        for side in sides:
            r = run(getattr(a, side), a.workload, seed, seconds)
            pair[side] = r
            vals = {k: v["value"] for k, v in r.get("metrics", {}).items()}
            print("pair %d seed %d %-6s correct=%s failed=%s host_gauge_s=%s %s"
                  % (i, seed, side, r.get("correct"), r.get("failed"), r["host_gauge_s"],
                     json.dumps(vals) if vals else r.get("error")), flush=True)
        pairs.append(pair)

    def usable(r):
        return bool(r.get("correct")) and "metrics" in r

    def failed(r):
        return r.get("failed") or 0

    def lost(p):
        return not usable(p["change"]) or failed(p["change"]) > failed(p["parent"])

    scored = [p for p in pairs if not lost(p) and usable(p["parent"])]
    runs = {side: {"usable": sum(1 for p in pairs if usable(p[side])),
                   "unusable": sum(1 for p in pairs if not usable(p[side])),
                   "failed_ops": sum(failed(p[side]) for p in pairs)}
            for side in ("parent", "change")}
    lost_pairs = sum(1 for p in pairs if lost(p))
    print("\n%d pairs run; unusable runs (crashed or failed checks): parent %d, change %d;"
          " failed operations: parent %d, change %d; %d pairs lost outright, %d compared"
          % (len(pairs), runs["parent"]["unusable"], runs["change"]["unusable"],
             runs["parent"]["failed_ops"], runs["change"]["failed_ops"], lost_pairs,
             len(scored)))
    print("%-12s %28s %28s %8s %8s %s" % ("metric", "parent q1/median/q3",
                                         "change q1/median/q3", "wins", "losses", "gap>IQR"))
    summary = {}
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        par = [p["parent"]["metrics"][name]["value"] for p in pairs if usable(p["parent"])]
        chg = [p["change"]["metrics"][name]["value"] for p in pairs if usable(p["change"])]
        cmp = [(p["parent"]["metrics"][name]["value"], p["change"]["metrics"][name]["value"])
               for p in scored]
        wins = sum(1 for x, y in cmp if (y < x if lower else y > x))
        losses = lost_pairs + sum(1 for x, y in cmp if (y > x if lower else y < x))
        pq = quartiles(par) if par else None
        cq = quartiles(chg) if chg else None
        gap = bool(pq and cq) and abs(cq[1] - pq[1]) > pq[2] - pq[0]
        summary[name] = {"parent": pq, "change": cq, "wins": wins, "losses": losses,
                         "pairs": len(pairs), "gap_above_parent_iqr": gap}
        print("%-12s %28s %28s %8s %8s %s" % (
            name, "/".join("%.4g" % v for v in pq) if pq else "-",
            "/".join("%.4g" % v for v in cq) if cq else "-",
            "%d/%d" % (wins, len(pairs)), "%d/%d" % (losses, len(pairs)), gap))
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"workload": a.workload, "run_seconds": seconds, "pairs": pairs,
                       "runs": runs, "summary": summary}, f, indent=1)
    return 0 if scored else 1


if __name__ == "__main__":
    sys.exit(main())
