#!/usr/bin/env python3
"""Steadiness check: runs each workload repeatedly and tests whether two
sets of runs of the same code agree within the bounds in BENCHMARK.json.

For every workload and end-to-end metric it reports, per set, the median
of the per-run values and the quartile spread (Q3 - Q1) / median, with
quartiles as `statistics.quantiles(values, n=4)` gives them. It fails
(exit 1) when
  - a run fails or reports wrong output,
  - a metric's spread in either set exceeds its bound, or
  - the second set's median is worse than the first's by more than the
    metric's bound.
Spreads above a third of the bound are flagged as unsteady but do not fail.

Usage (from the repository root):

    python3 perfbench/steady.py                       # every workload, 10 runs x 2 sets
    python3 perfbench/steady.py --workloads offline_pit --runs 5 --sets 1
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(cmd, workload, seed, seconds):
    """One untraced run: its JSON result (None when it failed) and the
    host steal ratio it printed (None when absent)."""
    p = subprocess.run(cmd + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    steal = next((float(l.split()[1]) for l in lines if l.split()[:1] == ["host.steal_ratio"]), None)
    if p.returncode != 0 or not lines:
        return None, steal
    return json.loads(lines[-1]), steal


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), (q3 - q1) / statistics.median(values)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()
    workloads = a.workloads.split(",")
    metrics = {m["name"]: m for m in bench["end_to_end"]}

    values = {}  # (set, workload, metric) -> [values]
    broken = []
    t0 = time.time()
    for s in range(a.sets):
        for i in range(a.runs):
            seed = a.first_seed + s * a.runs + i
            for wl in workloads:
                r, steal = run(bench["command"], wl, seed, bench["run_seconds"])
                ok = r is not None and r["correct"] and r["failed"] == 0
                print(f"set {s + 1} seed {seed:>3} {wl:<15} "
                      + (" ".join(f"{k}={v['value']:.5g}" for k, v in r["metrics"].items())
                         if r else "FAILED TO RUN")
                      + ("" if steal is None else f" steal={steal:.3f}")
                      + ("" if ok else "  <- FAILED"), flush=True)
                if not ok:
                    broken.append((wl, seed))
                    continue
                for k, v in r["metrics"].items():
                    values.setdefault((s, wl, k), []).append(v["value"])

    bad = [f"{wl} seed {seed}: run failed or output wrong" for wl, seed in broken]
    unsteady = []
    summary = []
    print(f"\n{'workload':<15} {'metric':<20} " + " ".join(
        f"{'median' + str(s + 1):>12} {'spread' + str(s + 1):>8}" for s in range(a.sets))
        + f" {'bound':>6}")
    for wl in workloads:
        for name, m in metrics.items():
            per_set = []
            for s in range(a.sets):
                vs = values.get((s, wl, name), [])
                per_set.append(spread(vs) if len(vs) >= 2 else (float("nan"), float("nan")))
            print(f"{wl:<15} {name:<20} " + " ".join(
                f"{med:>12.5g} {sp:>8.4f}" for med, sp in per_set) + f" {m['bound']:>6}")
            summary.append({"workload": wl, "metric": name, "sets": [
                {"median": med, "spread": sp, "values": values.get((s, wl, name), [])}
                for s, (med, sp) in enumerate(per_set)]})
            for s, (med, sp) in enumerate(per_set):
                if not sp <= m["bound"]:
                    bad.append(f"{wl} {name}: set {s + 1} spread {sp:.4f} > bound {m['bound']}")
                elif sp > m["bound"] / 3:
                    unsteady.append(f"{wl} {name}: set {s + 1} spread {sp:.4f} > bound/3")
            for s in range(1, a.sets):
                first, later = per_set[0][0], per_set[s][0]
                worse = (later - first) / first if m["better"] == "lower" else (first - later) / first
                if not worse <= m["bound"]:
                    bad.append(f"{wl} {name}: set {s + 1} median {worse:+.2%} worse than set 1 "
                               f"(bound {m['bound']:.0%})")
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    with open(os.path.join(HERE, ".work", "steady.json"), "w") as fh:
        json.dump({"runs": a.runs, "sets": a.sets, "seconds": bench["run_seconds"],
                   "summary": summary, "failures": bad, "unsteady": unsteady}, fh, indent=1)
    print(f"\n{len(workloads) * a.runs * a.sets} runs in {time.time() - t0:.0f} s")
    for u in unsteady:
        print(f"unsteady: {u}")
    for b in bad:
        print(f"FAIL: {b}")
    print("steady" if not bad else "NOT steady")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
