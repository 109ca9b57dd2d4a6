#!/usr/bin/env python3
"""Interleaved A/B of perfbench between two graft checkouts.

Usage:
    python3 tools/perf_ab.py --parent <dir> --change <dir> --seeds 31-40 \\
        --out ab.jsonl [--workloads curate_corpus,v2f_extract] [--seconds 25]
    python3 tools/perf_ab.py --summarize ab.jsonl [--benchmark BENCHMARK.json]

The run mode runs `python3 perfbench/run.py --workload W --seed N
--seconds S --trace 0` in each checkout, one seed at a time: the parent
first on odd seeds, the change first on even ones. Each run appends one
JSON line to --out (workload, seed, side, position in the pair, exit
code, wall seconds, the result line, and the number of
"BlockManager: Block ... already exists" WARNs in that run's log), so an
interrupted A/B keeps its finished runs. Make the parent checkout with
`git archive <sha> | tar -x -C <dir>`; run nothing else meanwhile.

Both modes then print, per workload and end-to-end metric of
BENCHMARK.json (read only, never written):
  - each side's median and Q1-Q3 over its runs;
  - wins: pairs (same seed) in which the change is better;
  - claim: whether a gain claim on that metric would hold, i.e. the
    change is better in at least 9 of 10 pairs and its median is better
    than the parent's by more than the parent's Q1-Q3 spread;
  - bound: whether the change's median is worse than the parent's by
    more than the metric's BENCHMARK.json bound (relative);
and each side's share of failed operations. --summarize reads a file
written by the run mode and runs nothing.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WARN = "already exists on this machine"


def seeds_of(spec):
    """'31-40' or '3,5,7' -> list of ints."""
    out = []
    for part in spec.split(","):
        if "-" in part:
            lo, hi = part.split("-")
            out += range(int(lo), int(hi) + 1)
        else:
            out.append(int(part))
    return out


def run_side(checkout, workload, seed, seconds):
    """One perfbench run in `checkout`; returns (result or None, exit, warns, wall)."""
    t0 = time.time()
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    wall = time.time() - t0
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        result = None
        sys.stderr.write(p.stderr[-2000:])
    log = os.path.join(checkout, ".perfbench", "logs", f"{workload}-seed{seed}-trace0.log")
    warns = 0
    if os.path.exists(log):
        with open(log, errors="replace") as fh:
            warns = sum(WARN in l for l in fh)
    return result, p.returncode, warns, wall


def run_ab(a):
    sides = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    for name, d in sides.items():
        if not os.path.exists(os.path.join(d, "perfbench", "run.py")):
            sys.exit(f"perf_ab: {name} checkout {d} has no perfbench/run.py")
    for seed in seeds_of(a.seeds):
        order = ("parent", "change") if seed % 2 else ("change", "parent")
        for w in a.workloads.split(","):
            for pos, side in enumerate(order):
                result, code, warns, wall = run_side(sides[side], w, seed, a.seconds)
                line = dict(workload=w, seed=seed, side=side, position=pos, exit=code,
                            wall_s=round(wall, 1), already_exists_warns=warns, result=result)
                with open(a.out, "a") as fh:
                    fh.write(json.dumps(line) + "\n")
                rps = (result or {}).get("metrics", {}).get("rows_per_s", {}).get("value")
                print(f"{w} seed {seed} {side}: exit {code}, rows_per_s {rps}, "
                      f"{warns} already-exists WARNs, {wall:.0f} s", file=sys.stderr)


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def summarize(path, bench_path):
    with open(bench_path) as fh:
        bench = json.load(fh)
    runs = [json.loads(l) for l in open(path) if l.strip()]
    ok = True
    for w in dict.fromkeys(r["workload"] for r in runs):
        rs = [r for r in runs if r["workload"] == w]
        by = {(r["seed"], r["side"]): r for r in rs}
        seeds = sorted({r["seed"] for r in rs})
        pairs = [s for s in seeds if (s, "parent") in by and (s, "change") in by
                 and by[(s, "parent")]["result"] and by[(s, "change")]["result"]]
        print(f"== {w}: {len(pairs)} pairs (seeds {', '.join(map(str, pairs))})")
        for side in ("parent", "change"):
            sr = [by[(s, side)] for s in seeds if (s, side) in by]
            att = sum((r["result"] or {}).get("attempted", 0) for r in sr)
            fail = sum((r["result"] or {}).get("failed", 1) for r in sr)
            warns = sum(r.get("already_exists_warns", 0) for r in sr)
            print(f"   {side}: {fail} of {att} operations failed; "
                  f"{warns} already-exists WARNs over {len(sr)} runs")
        if not pairs:
            continue
        for m in bench["end_to_end"]:
            name, lower = m["name"], m["better"] == "lower"

            def val(s, side):
                return by[(s, side)]["result"]["metrics"][name]["value"]
            pv = [val(s, "parent") for s in pairs]
            cv = [val(s, "change") for s in pairs]
            pm, cm = statistics.median(pv), statistics.median(cv)
            pq1, pq3 = quartiles(pv)
            cq1, cq3 = quartiles(cv)
            wins = sum((c < p) if lower else (c > p) for p, c in zip(pv, cv))
            gain = (pm - cm) if lower else (cm - pm)
            claim = wins >= 0.9 * len(pairs) and gain > (pq3 - pq1)
            worse = -gain / pm if pm else 0.0
            within = worse <= m["bound"]
            ok = ok and within
            pct = (cm - pm) / pm * 100 if pm else 0.0
            print(f"   {name:22s} parent {pm:.6g} [{pq1:.6g}-{pq3:.6g}]  "
                  f"change {cm:.6g} [{cq1:.6g}-{cq3:.6g}]  {pct:+.1f}%  "
                  f"wins {wins}/{len(pairs)}  claim {'holds' if claim else 'no'}  "
                  f"bound {m['bound']:.0%} {'ok' if within else 'EXCEEDED'}")
    return ok


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--summarize", metavar="JSONL", help="summarize a finished A/B; run nothing")
    ap.add_argument("--parent", help="the parent commit's checkout")
    ap.add_argument("--change", help="the change's checkout")
    ap.add_argument("--workloads", default="curate_corpus")
    ap.add_argument("--seeds", help="e.g. 31-40 or 3,5,7")
    ap.add_argument("--seconds", type=float, default=25)
    ap.add_argument("--out", help="JSON lines file the run mode appends to")
    ap.add_argument("--benchmark", default=os.path.join(HERE, os.pardir, "BENCHMARK.json"))
    a = ap.parse_args()
    if a.summarize:
        path = a.summarize
    else:
        if not (a.parent and a.change and a.seeds and a.out):
            ap.error("the run mode needs --parent, --change, --seeds and --out")
        run_ab(a)
        path = a.out
    sys.exit(0 if summarize(path, a.benchmark) else 1)


if __name__ == "__main__":
    main()
